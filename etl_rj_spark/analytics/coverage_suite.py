"""Driver-visible coverage queries for the SURVEY §2 plumbing the
query harness cannot otherwise see: sources and sinks get
self-contained WRITE → READ-BACK roundtrips (the roundtrip of shared
parquet data is lossless, so the oracle is plain SQL over the same
tables), and the small projection/filter/cast operators get one
canonical kernel query each.

Each roundtrip builds its fixture under a private temp dir per run —
the sink/source under test does real distributed I/O; only fixture
*construction* (25-row dimension tables) is driver-side.

Reference parity citations live on the operators themselves
(sources/trimmed_csv.py, sinks/incremental.py, ...); these queries are
the driver-checkable contracts for them.
"""

from __future__ import annotations

import datetime
import os
import shutil
import tempfile

from pyspark.sql import functions as F

from etl_rj_spark.analytics.suite import _q, _t
from etl_rj_spark.operators.filters import drop_leading_rows
from etl_rj_spark.streaming.sketches import HLL_MERGE_TOL, HLL_REL_TOL
from etl_rj_spark.operators.projection import (
    first_present_column,
    rename_map,
    rename_positional,
    select_present,
    with_literals,
)

_DERBY_PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

#: Substrings that mark a Derby duplicate-key / MERGE-cardinality
#: failure: SQLSTATE 23505 ("duplicate key value in a unique or
#: primary key constraint") surfaces for both the atomic-append PK
#: violation and the intra-batch-duplicate MERGE (both poison rows are
#: NOT MATCHED, the second insert trips the PK); the exception class
#: name covers other JDBC drivers' spellings. The former bare
#: ``'cardinality'`` mark is dropped (ADVICE r11): matched
#: case-insensitively against the WHOLE exception text it would let
#: any unrelated planner/analyzer error that merely mentions
#: cardinality vacuously pass the rollback proof; the standard
#: MERGE-cardinality SQLSTATE (21000) stays, as the specific spelling
#: of drivers that report the duplicate-source-rows case that way.
_INTEGRITY_MARKS = (
    "duplicate key",
    "SQLIntegrityConstraintViolation",
)

#: Integrity SQLSTATEs must be matched as SQLSTATEs, not bare numeric
#: substrings (ADVICE r12 for 21000, ADVICE r13 for 23505): '23505' as
#: a case-insensitive substring of the whole exception text would let
#: any unrelated error mentioning it ("scanned 23505 rows", an offset,
#: a port) vacuously pass the rollback proof — the same vacuous-match
#: class the bare 'cardinality' mark was removed for (ADVICE r11).
#: The ``error\s+`` alternative covers Derby's own ``ERROR 23505:``
#: spelling; prose marks ("duplicate key", the exception class name)
#: stay as-is above.
_INTEGRITY_SQLSTATE_RE = r"(?i)(?:sqlstate[:=\s]*'?|state\s+|error\s+)(21000|23505)"


def _assert_integrity_violation(e: Exception) -> None:
    """The poison-batch rollback proofs must accept ONLY the intended
    integrity violation — a bare ``except Exception`` would let a
    failure BEFORE the publish (staging write error, connection
    failure) pass the proof vacuously, since the poison keys would be
    absent either way (VERDICT r10 §wrong #2 / ADVICE r10). Any other
    exception re-raises, failing the query loudly."""
    import re

    text = str(e)
    if any(m.lower() in text.lower() for m in _INTEGRITY_MARKS):
        return
    if re.search(_INTEGRITY_SQLSTATE_RE, text):
        return
    raise e


def _scratch(name: str) -> str:
    """Fresh scratch dir, unique per PROCESS (pid-suffixed) and
    idempotent across re-runs WITHIN a process (rmtree on entry).

    The pid suffix is load-bearing (VERDICT r13 §wrong #1): with a
    fixed ``/tmp/etl_rj_cov_<name>`` two concurrent registry runs —
    e.g. a plan audit alongside a live pytest — are mutually
    destructive: one process's rmtree-on-entry deleted the other's
    LIVE streaming checkpoint (reproduced:
    ``FileNotFoundException: .../etl_rj_cov_stream_dedup_wm/ck/state/0/132``).
    A per-session id keeps the idempotence (same process → same path →
    clean slate per build) while making cross-process runs disjoint.
    Lifetime is bounded by ``analytics.scratch`` (r15, ADVICE r14):
    atexit removal plus a dead-pid sibling sweep on entry."""
    from etl_rj_spark.analytics.scratch import pid_scratch

    return pid_scratch("etl_rj_cov", name)


# ---------------------------------------------------------------------------
# Sources (S1, S2+F5, S3/S4, S5/S6) — write → read-back roundtrips
# ---------------------------------------------------------------------------

@_q(
    "s1_csv_scan_roundtrip",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    tags=("S1",),
)
def s1_csv_scan_roundtrip(spark, sf_dir):
    """S1 — plain CSV scan (ventas_totales.py:84-88): nation → CSV
    files → header CSV read with post-read casts (the reference's
    types-after-read posture). Lossless, so the oracle is the table."""
    d = _scratch("s1")
    n = _t(spark, sf_dir, "nation")
    n.write.mode("overwrite").option("header", True).csv(d)
    out = spark.read.option("header", True).csv(d)
    return out.select(
        F.col("n_nationkey").cast("int"),
        "n_name",
        F.col("n_regionkey").cast("int"),
    )


@_q(
    "s2_trimmed_csv_roundtrip",
    """
    -- POSITIONAL oracle: _row_idx is the 0-based DATA-ROW index of the
    -- written fixture (rows sorted by key then name), and F5 drops the
    -- first data row (_row_idx >= 1). The old `n_nationkey AS
    -- _row_idx` shortcut leaned on nation keys being dense AND unique
    -- — under duplicated keys (r11 dupstorm) position and key diverge,
    -- and position is what the engine's read actually carries.
    SELECT n_nationkey, n_name, _row_idx FROM (
      SELECT n_nationkey, n_name,
             row_number() OVER (ORDER BY n_nationkey, n_name) - 1 AS _row_idx
      FROM nation WHERE n_nationkey IS NOT NULL
    ) WHERE _row_idx >= 1
    """,
    tags=("S2", "F5"),
)
def s2_trimmed_csv_roundtrip(spark, sf_dir):
    """S2+F5 — report CSV with 6 junk header lines and a footer line
    (cartera.py:68 ``skiprows=6, skipfooter=1``), read with
    ``read_csv_trimmed``, then F5 drop-first-data-row via the carried
    ``_row_idx`` (wor2.py:268). Rows written in n_nationkey order, so
    ``_row_idx == n_nationkey`` (nation keys are dense 0..24)."""
    from etl_rj_spark.sources.trimmed_csv import read_csv_trimmed

    d = _scratch("s2")
    os.makedirs(d)
    # KEYED rows only: a report line with no key is junk the
    # reference's trim step discards, and the oracle's `>= 1` already
    # excludes NULL keys (NULL >= 1 is not true) — r10 nullmix fix
    # (bare sort crashed on NULL keys); a NULL name writes as an
    # empty cell (reads back NULL)
    rows = sorted(
        _t(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name")
        .where(F.col("n_nationkey").isNotNull())
        .collect()
    )  # 25-row dimension: fixture construction, not a data path
    path = os.path.join(d, "export.csv")
    with open(path, "w") as f:
        for i in range(6):
            f.write(f"Report junk line {i}\n")
        f.write("n_nationkey,n_name\n")
        for k, name in rows:
            f.write(f"{k},{'' if name is None else name}\n")
        f.write("Total,25\n")
    df = read_csv_trimmed(spark, path, skiprows=6, skipfooter=1)
    df = drop_leading_rows(df, "_row_idx", 1)
    return df.select(F.col("n_nationkey").cast("int"), "n_name", "_row_idx")


@_q(
    "s3_xls_biff_roundtrip",
    # keyed rows only: a spreadsheet line with no key is junk the
    # reference's loaders trim; mirrors the engine fixture (r10)
    "SELECT r_regionkey, r_name FROM region WHERE r_regionkey IS NOT NULL",
    tags=("S3",),
)
def s3_xls_biff_roundtrip(spark, sf_dir):
    """S3 over legacy .xls — the reference's extension dispatch accepts
    ``.xls`` via ``pd.read_excel`` (ventas_totales.py:80-90): write
    region into a real BIFF8 workbook (OLE2 container, SST, RK/NUMBER
    cells) with the legacy sink, read it back through the native BIFF
    reader via the same ``read_excel_sheet`` dispatch as .xlsx."""
    from etl_rj_spark.sinks.xls_legacy import write_xls
    from etl_rj_spark.sources.excel_tables import read_excel_sheet

    d = _scratch("s3xls")
    os.makedirs(d)
    # keyed rows only (see oracle) — r10 nullmix fix: int(None) crashed
    rows = sorted(
        _t(spark, sf_dir, "region").where(F.col("r_regionkey").isNotNull()).collect()
    )
    grid = [["r_regionkey", "r_name"]] + [[int(k), n] for k, n in rows]
    path = os.path.join(d, "export.xls")
    write_xls(path, {"Ventas": grid})
    df = read_excel_sheet(spark, path)
    return df.select(F.col("r_regionkey").cast("int"), "r_name")


@_q(
    "jsonl_docs_roundtrip",
    "SELECT doc_id, text, lang, source, n_chars FROM documents",
    tags=("jsonl", "llm-ingest"),
)
def jsonl_docs_roundtrip(spark, sf_dir):
    """JSONL ingest — the LLM-corpus interchange format: documents →
    distributed ``write.json`` (one shard per partition) → explicit-
    schema PERMISSIVE read (no inference pass; see sources/jsonl.py for
    the 100 TB posture). Lossless, so the oracle is the table."""
    from etl_rj_spark.sources.jsonl import DOCUMENTS_SCHEMA, quarantine_corrupt, read_jsonl

    d = _scratch("jsonl")
    _t(spark, sf_dir, "documents").write.mode("overwrite").json(d)
    # the quarantine split CACHES its scan; a rebuild in the same
    # session rewrites this path under the cached relation, which the
    # CacheManager would silently serve STALE (r13 finding — the xml
    # twin returned 0 corrupt rows on rebuild). refreshByPath is the
    # documented invalidation for a data-source path.
    spark.catalog.refreshByPath(d)
    good, bad = quarantine_corrupt(read_jsonl(spark, d, DOCUMENTS_SCHEMA))
    assert bad.count() == 0  # clean write: nothing quarantined
    return good.select("doc_id", "text", "lang", "source", "n_chars")


@_q(
    "jsonl_shard_export",
    "SELECT doc_id, text, lang, source, n_chars FROM documents",
    tags=("jsonl", "llm-ingest", "shard-export"),
)
def jsonl_shard_export(spark, sf_dir):
    """Shard-export roundtrip: documents → hash-routed, record-capped
    gzip JSONL shards (sinks/jsonl_shards.py — the deterministic
    membership a re-run-diffable corpus export needs) → explicit-schema
    read-back. Lossless, so the oracle is the table."""
    from etl_rj_spark.sinks.jsonl_shards import write_jsonl_shards
    from etl_rj_spark.sources.jsonl import DOCUMENTS_SCHEMA, quarantine_corrupt, read_jsonl

    d = _scratch("jsonl_shards")
    docs = _t(spark, sf_dir, "documents")
    write_jsonl_shards(
        docs, d, num_shards=4, max_records_per_file=200,
        compression="gzip", shard_by="doc_id",
    )
    spark.catalog.refreshByPath(d)  # rebuild-stale cache guard (see jsonl twin)
    good, bad = quarantine_corrupt(read_jsonl(spark, d, DOCUMENTS_SCHEMA))
    assert bad.count() == 0
    return good.select("doc_id", "text", "lang", "source", "n_chars")


@_q(
    "jsonl_corrupt_quarantine",
    "SELECT n_nationkey, n_name FROM nation",
    tags=("jsonl", "quarantine", "llm-ingest"),
)
def jsonl_corrupt_quarantine(spark, sf_dir):
    """PERMISSIVE JSONL ingest with dead-letter quarantine: the
    fixture interleaves valid lines with truncated JSON, bare text and
    schema-violating rows; good rows must survive exactly and every
    broken line must land in quarantine with its raw text (the
    validate.py dead-letter posture at the source boundary)."""
    from etl_rj_spark.sources.jsonl import quarantine_corrupt, read_jsonl
    from pyspark.sql import types as T

    import json as _json

    d = _scratch("jsonl_bad")
    os.makedirs(d)
    # json.dumps: JSONL represents null natively, so rows with NULL
    # fields (keys included) roundtrip losslessly as good rows and the
    # oracle stays the bare table; None sorts first (r10 nullmix fix —
    # the old '%d' format and bare sort crashed on NULL keys)
    rows = sorted(
        _t(spark, sf_dir, "nation").select("n_nationkey", "n_name").collect(),
        key=lambda r: (r[0] is not None, r[0] if r[0] is not None else 0),
    )  # 25-row dimension: fixture construction, not a data path
    corrupt = ['{"n_nationkey": 99, "n_name": "tru', "not json at all", '{"n_nationkey": "NaN-key"}']
    with open(os.path.join(d, "shard-0.jsonl"), "w") as f:
        for i, (k, name) in enumerate(rows):
            f.write(_json.dumps({"n_nationkey": k, "n_name": name}) + "\n")
            if i < len(corrupt):
                f.write(corrupt[i] + "\n")
        # corrupt lines not interleaved above (fewer valid rows than
        # corrupt fixtures — e.g. an empty dimension) still land, so
        # the quarantine contract is data-independent (r10 sweep fix)
        for j in range(min(len(rows), len(corrupt)), len(corrupt)):
            f.write(corrupt[j] + "\n")
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.LongType()),
            T.StructField("n_name", T.StringType()),
        ]
    )
    spark.catalog.refreshByPath(d)  # rebuild-stale cache guard (see jsonl twin)
    good, bad = quarantine_corrupt(read_jsonl(spark, d, schema))
    assert bad.count() == len(corrupt)  # every broken line quarantined
    return good.select(F.col("n_nationkey").cast("int"), "n_name")


@_q(
    "binary_file_ingest",
    """
    SELECT CAST(i AS BIGINT) AS doc_id, 'png' AS img_format,
           CAST(100 + i AS BIGINT) AS img_width,
           CAST(50 + i AS BIGINT) AS img_height
    FROM range(0, 40) t(i)
    """,
    tags=("binary-file", "multimodal", "source"),
)
def binary_file_ingest(spark, sf_dir):
    """REAL file ingest for the multimodal layer: 40 genuine PNGs
    (dependency-free encoder, dims (100+i, 50+i)) plus .txt distractors
    are written to a directory; Spark's binaryFile source reads them
    back with a pathGlobFilter that prunes the distractors BEFORE any
    bytes load, doc ids recover from the filenames, and the
    pure-expression header sniff (operators/multimodal) extracts the
    dims from the actual IHDR bytes. The oracle regenerates format and
    dims arithmetically — a wrong glob, filename parse, or header walk
    cannot match."""
    import numpy as np

    from etl_rj_spark.functions.png import encode_png
    from etl_rj_spark.operators.multimodal import parse_image_header
    from etl_rj_spark.sources.binary_files import read_binary_files

    d = _scratch("binfiles")
    os.makedirs(d)
    for i in range(40):
        w, h = 100 + i, 50 + i
        arr = np.full((h, w, 3), (i * 7) % 256, dtype=np.uint8)
        with open(os.path.join(d, f"doc_{i}.png"), "wb") as f:
            f.write(encode_png(arr))
        with open(os.path.join(d, f"junk_{i}.txt"), "w") as f:
            f.write("not an image; the glob must prune me unread")

    files = read_binary_files(spark, d, glob="*.png")
    sniffed = parse_image_header(files, content_col="payload")
    return sniffed.select(
        F.regexp_extract("path", r"doc_(\d+)\.png$", 1).cast("long").alias("doc_id"),
        "img_format",
        "img_width",
        "img_height",
    )


@_q(
    "parquet_schema_evolution",
    """
    SELECT n_nationkey, n_name, CAST(NULL AS VARCHAR) AS n_comment_upper
    FROM nation WHERE n_nationkey < 10
    UNION ALL
    SELECT n_nationkey, n_name, UPPER(n_name) AS n_comment_upper
    FROM nation WHERE n_nationkey >= 10
    """,
    tags=("parquet", "schema-evolution", "source"),
)
def parquet_schema_evolution(spark, sf_dir):
    """Schema evolution across daily parquet shards: an early batch
    written WITHOUT a column and a later batch WITH it must read back
    as one table under ``mergeSchema`` — old rows null-filled, new
    rows intact. This is the file-level counterpart of the DataFrame-
    level ``union_schema_drift`` (U1): a 100 TB lake accretes columns
    over months and the scan, not the writer, absorbs the drift.
    (mergeSchema is a footer-merge over shards — pay it on
    schema-change boundaries, not every read.)"""
    d = _scratch("schema_evo")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    nation.filter(F.col("n_nationkey") < 10).write.mode("overwrite").parquet(
        f"{d}/batch=1"
    )
    nation.filter(F.col("n_nationkey") >= 10).withColumn(
        "n_comment_upper", F.upper("n_name")
    ).write.mode("overwrite").parquet(f"{d}/batch=2")
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(d)
        .select("n_nationkey", "n_name", "n_comment_upper")
    )


@_q(
    "csv_corrupt_quarantine",
    "SELECT n_nationkey, n_name FROM nation",
    tags=("csv", "quarantine", "S1"),
)
def csv_corrupt_quarantine(spark, sf_dir):
    """Schema-checked CSV ingest with dead-letter quarantine
    (sources/csv_permissive.py — the CSV twin of the JSONL posture):
    the fixture interleaves valid rows with an untypeable key, an
    over-wide row, and a bare word; good rows must survive exactly and
    every broken line must land in quarantine with its raw text."""
    from pyspark.sql import types as T

    from etl_rj_spark.sources.csv_permissive import read_csv_permissive
    from etl_rj_spark.sources.jsonl import quarantine_corrupt

    d = _scratch("csv_bad")
    os.makedirs(d)
    # CSV represents null as an empty cell, so rows with NULL fields
    # (keys included) roundtrip losslessly as good rows and the oracle
    # stays the bare table; None sorts first (r10 nullmix fix — the
    # old f-string wrote the literal 'None' and bare sort crashed)
    rows = sorted(
        _t(spark, sf_dir, "nation").select("n_nationkey", "n_name").collect(),
        key=lambda r: (r[0] is not None, r[0] if r[0] is not None else 0),
    )  # 25-row dimension: fixture construction, not a data path
    corrupt = ["NaN-key,BROKEN", "9,TOOWIDE,extra,columns", "bareword"]
    with open(os.path.join(d, "shard-0.csv"), "w") as f:
        f.write("n_nationkey,n_name\n")
        for i, (k, name) in enumerate(rows):
            f.write(f"{'' if k is None else k},{'' if name is None else name}\n")
            if i < len(corrupt):
                f.write(corrupt[i] + "\n")
        # data-independent corruption fixtures (see jsonl twin, r10)
        for j in range(min(len(rows), len(corrupt)), len(corrupt)):
            f.write(corrupt[j] + "\n")
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.LongType()),
            T.StructField("n_name", T.StringType()),
        ]
    )
    spark.catalog.refreshByPath(d)  # rebuild-stale cache guard (see jsonl twin)
    good, bad = quarantine_corrupt(read_csv_permissive(spark, d, schema))
    assert bad.count() == len(corrupt)  # every broken line quarantined
    return good.select(F.col("n_nationkey").cast("int"), "n_name")


@_q(
    "orc_events_roundtrip",
    """
    SELECT event_id, ts, user_id, value, event_type FROM events
    WHERE event_type IN ('click', 'purchase')
    """,
    tags=("orc", "columnar", "source", "sink"),
)
def orc_events_roundtrip(spark, sf_dir):
    """ORC interchange roundtrip — Spark-first extension beyond the
    reference's CSV/Excel/JDBC surface: events → ORC partitioned by
    event_type (directory-level pruning) → read-back through the same
    source-boundary timestamp normalization as the parquet scan, with
    a partition filter so only 2 of 5 partitions are touched. Lossless
    under the pinned UTC session tz, so the oracle is the table.
    tests/test_orc.py additionally pins PushedFilters/partition pruning
    on the ORC scan plan."""
    from etl_rj_spark.sources.columnar import read_orc, write_orc

    d = _scratch("orc_events")
    write_orc(
        _t(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "value", "event_type"
        ),
        d,
        partition_by=("event_type",),
    )
    return read_orc(spark, d).where(
        F.col("event_type").isin("click", "purchase")
    ).select("event_id", "ts", "user_id", "value", "event_type")


@_q(
    "manifest_incremental_ingest",
    """
    SELECT event_id, user_id, value, event_type FROM events
    WHERE event_id % 4 IN (0, 1)
    """,
    tags=("source", "incremental", "manifest"),
)
def manifest_incremental_ingest(spark, sf_dir):
    """File-manifest incremental ingest (the file-level K1): a drop
    directory receives two arrival batches; each ingest reads ONLY the
    files the ledger has not recorded. The redelivery contract is
    in-query: a third ingest after recording MUST be empty — if it
    were not, its rows would double in the union and hash-mismatch
    the oracle (which is simply the two batches' row predicate)."""
    from etl_rj_spark.sources.manifest import ingest_new_files, record_processed

    base = _scratch("manifest")
    drop, ledger = f"{base}/drop", f"{base}/ledger"
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "value", "event_type")
    cols = ["event_id", "user_id", "value", "event_type"]

    ev.filter(F.col("event_id") % 4 == 0).repartition(3).write.mode("append").parquet(drop)
    df1, new1 = ingest_new_files(spark, f"{drop}/part-*", ledger)
    record_processed(spark, ledger, new1)

    ev.filter(F.col("event_id") % 4 == 1).repartition(2).write.mode("append").parquet(drop)
    df2, new2 = ingest_new_files(spark, f"{drop}/part-*", ledger)
    record_processed(spark, ledger, new2)

    out = df1.select(*cols).unionByName(df2.select(*cols))
    df3, _new3 = ingest_new_files(spark, f"{drop}/part-*", ledger)
    if df3 is not None:  # redelivery failure → deliberate hash mismatch
        out = out.unionByName(df3.select(*cols))
    return out


@_q(
    "xml_feed_roundtrip",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 20 = 0
    """,
    tags=("xml", "source", "sink", "quarantine"),
)
def xml_feed_roundtrip(spark, sf_dir):
    """XML interchange roundtrip (sources/xml.py — Spark 4 native XML
    datasource): an orders slice → XML feed files → schema'd
    PERMISSIVE read-back with a hand-broken element proving the
    dead-letter split. Doubles survive textually (Java shortest
    round-trip repr), dates as ISO — lossless, so the oracle is the
    table. The edge-feed posture (XML lands, normalizes to columnar
    once) is documented on the module."""
    from etl_rj_spark.sources.jsonl import quarantine_corrupt
    from etl_rj_spark.sources.xml import read_xml, write_xml

    d = _scratch("xml_feed")
    cols = [
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    ]
    write_xml(
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 20 == 0)
        .select(*cols[:4], F.col("o_orderdate").cast("date"), cols[5]),
        d,
        row_tag="order",
        root_tag="orders",
    )
    # a malformed partner drop beside the good shards: number where a
    # long belongs — must quarantine whole, not poison the read
    with open(os.path.join(d, "broken.xml"), "w") as f:
        f.write("<orders><order><o_orderkey>oops</o_orderkey>"
                "<o_orderstatus>Z</o_orderstatus></order></orders>")
    schema = (
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate date, o_orderpriority string"
    )
    spark.catalog.refreshByPath(d)  # rebuild-stale cache guard (see jsonl twin)
    good, bad = quarantine_corrupt(
        read_xml(spark, d, row_tag="order", schema=schema)
    )
    assert bad.count() == 1  # the broken element, whole, in quarantine
    return good.select(*cols)


@_q(
    "xml_column_extract",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    tags=("xml", "kernel"),
)
def xml_column_extract(spark, sf_dir):
    """Column-level XML kernels (sources/xml.py): pack each nation row
    into an XML fragment with ``to_xml`` and parse it back with
    ``from_xml`` — both JVM-side expressions, zero Python in the
    plan. Entity escaping makes the in-plan roundtrip exact for
    arbitrary comment text, so the oracle is the table. The pattern is
    the scale path for XML-bearing columns inside an otherwise
    columnar lake (parse once, extract fields, drop the blob)."""
    from etl_rj_spark.sources.xml import xml_encode, xml_extract

    frag = _t(spark, sf_dir, "nation").select(
        xml_encode(
            F.struct("n_nationkey", "n_name", "n_regionkey")
        ).alias("xml_frag")
    )
    parsed = frag.select(
        xml_extract(
            "xml_frag", "n_nationkey int, n_name string, n_regionkey int"
        ).alias("r")
    )
    return parsed.select("r.n_nationkey", "r.n_name", "r.n_regionkey")


@_q(
    "s4_excel_named_tables_roundtrip",
    """
    SELECT r_regionkey, r_name, 'Zone1' AS zone, 'January' AS nombre_mes,
           1 AS mes, 2024 AS anio
    FROM region
    -- keyed rows only: mirrors the engine fixture (r10 nullmix fix)
    WHERE r_regionkey IS NOT NULL
    """,
    tags=("S3", "S4"),
)
def s4_excel_named_tables_roundtrip(spark, sf_dir):
    """S3/S4 — regex-discovered Excel named tables (wor2.py:95-160):
    write region as table ``Forecast_Zone1_Enero`` (plus a distractor)
    into a real .xlsx, rediscover via the stdlib parser, classify by
    name regex, lift to Spark with name-derived metadata columns."""
    from etl_rj_spark.sinks.xlsx import write_xlsx
    from etl_rj_spark.sources.excel_tables import (
        classify_tables,
        read_workbook_tables,
        tables_to_spark,
    )

    d = _scratch("s4")
    os.makedirs(d)
    # keyed rows only (see oracle) — r10 nullmix fix: int(None) crashed
    rows = sorted(
        _t(spark, sf_dir, "region").where(F.col("r_regionkey").isNotNull()).collect()
    )
    grid = [["r_regionkey", "r_name"]] + [[int(k), n] for k, n in rows]
    path = os.path.join(d, "wor.xlsx")
    write_xlsx(
        path,
        [("Forecast_Zone1_Enero", grid), ("Quarterly_Totals", [["x", "y"], [1, 2]])],
    )
    tables = classify_tables(read_workbook_tables(path))
    assert len(tables) == 1  # the distractor must NOT classify
    [(_, df)] = tables_to_spark(spark, tables, anio=2024)
    return df.select(
        F.col("r_regionkey").cast("int"),
        "r_name",
        "zone",
        "nombre_mes",
        F.col("mes").cast("int"),
        F.col("anio").cast("int"),
    )


@_q(
    "s5_jdbc_dim_roundtrip",
    "SELECT r_regionkey, r_name FROM region WHERE r_regionkey >= 2",
    tags=("S5", "S6"),
)
def s5_jdbc_dim_roundtrip(spark, sf_dir):
    """S5/S6 — JDBC dim read + key projection with WHERE pushdown
    against a live embedded Derby database: seed region over JDBC,
    read the dim back with the projection pushed into the query, read
    the key projection with the predicate pushed, and join. Unique db
    dir per run (Derby boots a db per path per JVM)."""
    from etl_rj_spark.sources.jdbc import read_dim_table, read_key_projection

    d = tempfile.mkdtemp(prefix="etl_rj_cov_s5_")
    url = f"jdbc:derby:{d}/db;create=true"
    # uppercase aliases: Spark quotes identifiers on JDBC write, and
    # Derby folds unquoted query identifiers to uppercase
    r = _t(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("R_REGIONKEY"), F.col("r_name").alias("R_NAME")
    )
    (
        r.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "REGION_DIM")
        .options(**_DERBY_PROPS)
        .mode("overwrite")
        .save()
    )
    dim = read_dim_table(
        spark, url, "REGION_DIM", ["R_REGIONKEY", "R_NAME"], _DERBY_PROPS
    )
    keys = read_key_projection(
        spark,
        url,
        "REGION_DIM",
        ["R_REGIONKEY"],
        predicate="R_REGIONKEY >= 2",
        properties=_DERBY_PROPS,
    )
    return (
        dim.join(keys, "R_REGIONKEY")
        .select(
            F.col("R_REGIONKEY").alias("r_regionkey"),
            F.col("R_NAME").alias("r_name"),
        )
    )


# ---------------------------------------------------------------------------
# Sinks (K1, K2) — append → read-back roundtrips
# ---------------------------------------------------------------------------

@_q(
    "k1_incremental_append_roundtrip",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey < 200
    """,
    tags=("K1", "J4", "J5"),
)
def k1_incremental_append_roundtrip(spark, sf_dir):
    """K1 — transactional incremental append with anti-join dedup
    (ventas_totales.py:223-262): seed keys <100, append an overlapping
    batch (<200 → only the new rows land), re-run the same batch (0
    rows land — the reference's recovery invariant), read the sink."""
    from etl_rj_spark.sinks.incremental import append_incremental

    d = _scratch("k1")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    append_incremental(spark, o.filter(F.col("o_orderkey") < 100), d, ["o_orderkey"])
    batch = o.filter(F.col("o_orderkey") < 200)
    append_incremental(spark, batch, d, ["o_orderkey"])
    rerun_inserted = append_incremental(spark, batch, d, ["o_orderkey"])
    assert rerun_inserted == 0  # idempotent re-run
    return spark.read.parquet(d)


@_q(
    "stream_hll_maintenance",
    """
    SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
           1 AS stream_consistent, 1 AS estimate_ok
    FROM events
    -- complete-case: NULL event_type is not a category (r10 parity)
    WHERE event_type IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
    tags=("streaming", "approx-sketch", "incremental"),
)
def stream_hll_maintenance(spark, sf_dir):
    """Streaming sketch maintenance (streaming/sketches.py): events
    drained as 3 micro-batches fold per-(event_type, day) HLL partials
    into a day-partitioned table — only touched days rewritten, blind
    re-merge idempotent (register-max union), no history rescan.

    Driver-visible contract: ``stream_consistent`` pins the rollup of
    the streamed partials within HLL_MERGE_TOL (1 %) of a single-pass
    batch sketch over the same events — exactly equal while sketches
    stay sparse; in dense mode the DataSketches union gadget drifts
    sub-percent from a direct sketch (×10 sweep finding), so the pin
    is a tight band, not equality. ``estimate_ok`` pins the estimate
    within 5 % of the exact distinct count the oracle also computes."""
    from etl_rj_spark.sources.parquet import read_parquet_table
    from etl_rj_spark.streaming.sketches import estimate_partials, stream_hll_partials

    root = _scratch("stream_hll")
    # complete-case: NULL event_type is not a category (see oracle, r10)
    ev = read_parquet_table(spark, f"{sf_dir}/events.parquet").where(
        F.col("event_type").isNotNull()
    )
    ev.repartition(3).write.parquet(f"{root}/in")
    schema = spark.read.parquet(f"{root}/in").schema
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(f"{root}/in")
    stream_hll_partials(
        stream, f"{root}/partials", f"{root}/ck"
    ).awaitTermination()

    streamed = estimate_partials(spark, f"{root}/partials")
    direct = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12)))
        .alias("__direct"),
    )
    return (
        direct.join(streamed, "event_type")
        .select(
            "event_type",
            "exact_users",
            (F.abs(F.col("approx_distinct") - F.col("__direct"))
             <= HLL_MERGE_TOL * F.col("exact_users")).cast("int")
            .alias("stream_consistent"),
            (F.abs(F.col("approx_distinct") - F.col("exact_users"))
             <= HLL_REL_TOL * F.col("exact_users")).cast("int").alias("estimate_ok"),
        )
        .orderBy("event_type")
    )


@_q(
    "stream_topk_maintenance",
    """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, 1 AS stream_is_exact
    FROM events
    -- complete-case: NULL event_type is not a category (r10 parity)
    WHERE event_type IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
    tags=("streaming", "approx-sketch", "heavy-hitters", "incremental"),
)
def stream_topk_maintenance(spark, sf_dir):
    """Streaming heavy-hitters maintenance (streaming/sketches.py):
    events drained as 3 micro-batches fold per-day frequent-items
    states into a day-partitioned table through the BATCH-ID LEDGER —
    the additive-combine twin of ``stream_hll_maintenance``, where
    blind re-merge would double-count, so idempotence comes from the
    ledger instead of the sketch algebra. A redelivered batch id is
    re-folded in-query and pinned to change nothing.

    Contract: vocabulary (5 event types) << map capacity, so the
    served estimate is EXACT. The stream drains events once (served =
    n), one extra fold of the whole table under a fresh batch id adds
    it again (served = 2n), and REDELIVERING that same id — now in
    every touched day's ledger — must change nothing.
    ``stream_is_exact`` pins served == 2 × the exact GROUP BY the
    oracle also computes; any double-count or drop breaks it."""
    from etl_rj_spark.sources.parquet import read_parquet_table
    from etl_rj_spark.streaming.sketches import (
        estimate_topk_partials,
        fold_topk_batch,
        stream_topk_partials,
    )

    root = _scratch("stream_topk")
    # complete-case: NULL event_type is not a category (see oracle, r10)
    ev = read_parquet_table(spark, f"{sf_dir}/events.parquet").where(
        F.col("event_type").isNotNull()
    )
    ev.repartition(3).write.parquet(f"{root}/in")
    schema = spark.read.parquet(f"{root}/in").schema
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(f"{root}/in")
    stream_topk_partials(
        stream, f"{root}/partials", f"{root}/ck"
    ).awaitTermination()
    # one extra fold (id 99) then its redelivery: the second call hits
    # the ledger in every day it touched and must be a no-op
    fold_topk_batch(ev, 99, f"{root}/partials")
    fold_topk_batch(ev, 99, f"{root}/partials")

    served = estimate_topk_partials(spark, f"{root}/partials").select(
        F.col("item").alias("event_type"), F.col("n").alias("__served")
    )
    exact = ev.groupBy("event_type").agg(F.count("*").alias("n"))
    return (
        exact.join(served, "event_type")
        .select(
            "event_type", "n",
            (F.lit(2) * F.col("n") == F.col("__served")).cast("int")
            .alias("stream_is_exact"),
        )
        .orderBy("event_type")
    )


@_q(
    "stream_moments_maintenance",
    """
    WITH v AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, 1 AS n_is_2x,
           CAST(ROUND(SUM(c)::DOUBLE / COUNT(*) * 1000000) AS BIGINT) AS mean_ppm,
           CAST(ROUND((COUNT(*)::HUGEINT * SUM(c::HUGEINT * c)
                       - SUM(c::HUGEINT) * SUM(c))::DOUBLE
                      / (COUNT(*)::HUGEINT * COUNT(*))::DOUBLE
                      * 1000000) AS BIGINT) AS var_ppm
    FROM v GROUP BY event_type ORDER BY event_type
    """,
    tags=("streaming", "moments", "incremental", "exact-state"),
)
def stream_moments_maintenance(spark, sf_dir):
    """Streaming EXACT moment-state maintenance (streaming/moments.py)
    — the fourth class in the state taxonomy: integer (n, Σx, Σx²)
    sums are additive like frequent-items (so the batch-id ledger
    carries idempotence) but exact (no sketch error). Events drain as
    3 micro-batches; one extra whole-table fold under a fresh id
    doubles every sum, and REDELIVERING that id must change nothing.
    The contract exploits exact-doubling invariance: served mean/var
    from the (2n, 2Σx, 2Σx²) state must equal the single-pass values
    the oracle computes directly from events (powers of two scale IEEE
    doubles exactly), and ``n_is_2x`` pins the ledger arithmetic."""
    from etl_rj_spark.sources.parquet import read_parquet_table
    from etl_rj_spark.streaming.moments import (
        fold_moments_batch,
        serve_moment_stats,
        stream_moment_partials,
    )

    root = _scratch("stream_moments")
    ev = read_parquet_table(spark, f"{sf_dir}/events.parquet").select(
        "event_type", "ts", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    ev.repartition(3).write.parquet(f"{root}/in")
    schema = spark.read.parquet(f"{root}/in").schema
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(f"{root}/in")
    stream_moment_partials(
        stream, f"{root}/partials", f"{root}/ck"
    ).awaitTermination()
    fold_moments_batch(ev, 99, f"{root}/partials")
    fold_moments_batch(ev, 99, f"{root}/partials")  # ledgered no-op

    served = serve_moment_stats(spark, f"{root}/partials").select(
        F.col("grp").alias("event_type"),
        F.col("n").alias("__served_n"),
        "mean_ppm", "var_ppm",
    )
    exact = (
        ev.filter(F.col("cents").isNotNull())
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        exact.join(served, "event_type")
        .select(
            "event_type", "n",
            (F.lit(2) * F.col("n") == F.col("__served_n")).cast("int").alias("n_is_2x"),
            "mean_ppm", "var_ppm",
        )
        .orderBy("event_type")
    )


@_q(
    "stream_theta_overlap",
    """
    WITH v AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
         p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
    SELECT
      CAST((SELECT COUNT(*) FROM (SELECT user_id FROM v INTERSECT SELECT user_id FROM p)) AS BIGINT) AS n_both,
      CAST((SELECT COUNT(*) FROM (SELECT user_id FROM v EXCEPT SELECT user_id FROM p)) AS BIGINT) AS n_only_a,
      CAST((SELECT COUNT(*) FROM (SELECT user_id FROM v UNION SELECT user_id FROM p)) AS BIGINT) AS n_any
    """,
    tags=("streaming", "approx-sketch", "set-algebra", "incremental"),
)
def stream_theta_overlap(spark, sf_dir):
    """Streaming theta maintenance + serve-time set algebra
    (streaming/sketches.py): events drained as 3 micro-batches fold
    per-(event_type, day) theta partials — blind re-merge idempotent
    (SET union, like HLL; unlike the ledgered top-k fold) — then the
    maintained sketches answer "viewers ∩ purchasers / viewers only /
    either" WITHOUT re-scanning events. lgK=14 keeps exact mode far
    past this cardinality, so the served numbers equal the oracle's
    exact set SQL. An in-query redelivery (second drain, fresh
    checkpoint) precedes the serve, so the oracle also pins
    idempotence."""
    from etl_rj_spark.sources.parquet import read_parquet_table
    from etl_rj_spark.streaming.sketches import stream_theta_partials, theta_overlap

    root = _scratch("stream_theta")
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
    # full redelivery under a fresh checkpoint: set union is idempotent
    stream_theta_partials(
        stream(), f"{root}/partials", f"{root}/ck2"
    ).awaitTermination()
    return theta_overlap(spark, f"{root}/partials", "view", "purchase")


@_q(
    "k1_atomic_jdbc_roundtrip",
    """
    SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < 20
    """,
    tags=("K1", "atomic-commit"),
)
def k1_atomic_jdbc_roundtrip(spark, sf_dir):
    """K1 staging-table atomic commit (SURVEY §4) against live Derby:
    seed keys <10 via the atomic publish, append an overlapping <20
    batch (only the 10 new rows land, in ONE transaction), re-run (0
    rows), then prove the all-or-nothing property inline: a poison
    batch with an intra-batch duplicate key fails its publish and the
    table is byte-identical after — no partial append to heal. Read
    the table back as the oracle-checked result."""
    from etl_rj_spark.sinks.incremental import append_incremental_jdbc_atomic

    d = tempfile.mkdtemp(prefix="etl_rj_cov_k1a_")
    url = f"jdbc:derby:{d}/db;create=true"
    jvm = spark.sparkContext._jvm
    jvm.java.lang.Class.forName(_DERBY_PROPS["driver"])
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        st.executeUpdate(
            "CREATE TABLE NATION_AT (N_NATIONKEY INT PRIMARY KEY, N_NAME VARCHAR(64))"
        )
        st.close()
    finally:
        conn.close()

    n = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("N_NATIONKEY"), F.col("n_name").alias("N_NAME")
    )
    append_incremental_jdbc_atomic(
        n.filter(F.col("N_NATIONKEY") < 10), url, "NATION_AT", ["N_NATIONKEY"],
        properties=_DERBY_PROPS,
    )
    batch = n.filter(F.col("N_NATIONKEY") < 20)
    append_incremental_jdbc_atomic(
        batch, url, "NATION_AT", ["N_NATIONKEY"], properties=_DERBY_PROPS
    )
    rerun = append_incremental_jdbc_atomic(
        batch, url, "NATION_AT", ["N_NATIONKEY"], properties=_DERBY_PROPS
    )
    assert rerun == 0  # idempotent re-run
    # LITERAL poison rows (keys 30/31, 31 duplicated): the rollback
    # proof must not depend on the input table being non-empty (r10)
    poison = spark.createDataFrame(
        [(30, "dup"), (31, "dup2"), (31, "dup2")],
        "N_NATIONKEY int, N_NAME string",
    )
    try:
        append_incremental_jdbc_atomic(
            poison, url, "NATION_AT", ["N_NATIONKEY"], properties=_DERBY_PROPS
        )
        raise AssertionError("poison publish should have failed")
    except AssertionError:
        raise
    except Exception as e:  # noqa: BLE001 — narrowed by the assert below
        # expected: PK violation rolled the whole publish back; any
        # OTHER failure (staging write, connection) re-raises so the
        # proof can't pass vacuously (VERDICT r10 #4)
        _assert_integrity_violation(e)
    out = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "NATION_AT")
        .options(**_DERBY_PROPS)
        .load()
    )
    # rollback proof folded into the oracle: rows 30/31 must be absent
    return out.select(
        F.col("N_NATIONKEY").alias("n_nationkey"), F.col("N_NAME").alias("n_name")
    )


@_q(
    "k1_jdbc_upsert_roundtrip",
    """
    -- MERGE semantics: EVERY key < 25 carries the corrected (+100)
    -- region — an insert-only append would have left the seeded
    -- keys (<15) at their original values, so the hash compare
    -- distinguishes upsert from append
    SELECT n_nationkey, n_name, n_regionkey + 100 AS n_regionkey
    FROM nation WHERE n_nationkey < 25
    """,
    tags=("K1", "merge-upsert", "atomic-commit"),
)
def k1_jdbc_upsert_roundtrip(spark, sf_dir):
    """K1-upsert (MERGE) against live Derby: seed keys <15, upsert a
    corrected full reload (<25, region shifted +100) — matched rows
    UPDATE, new rows INSERT, one server-side transaction
    (sinks/incremental.upsert_jdbc). Redelivery is a value-level
    no-op (asserted by the oracle hash after a second upsert); a
    poison batch with an intra-batch duplicate key fails its MERGE
    and rolls back whole (keys 30/31 absent from the read-back). The
    reference's loaders are insert-only (ventas_totales.py:205-209) —
    this is the corrected-record reload path they lack."""
    from etl_rj_spark.sinks.incremental import upsert_jdbc

    d = tempfile.mkdtemp(prefix="etl_rj_cov_k1u_")
    url = f"jdbc:derby:{d}/db;create=true"
    jvm = spark.sparkContext._jvm
    jvm.java.lang.Class.forName(_DERBY_PROPS["driver"])
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        st.executeUpdate(
            "CREATE TABLE NATION_UP (N_NATIONKEY INT PRIMARY KEY, "
            "N_NAME VARCHAR(64), N_REGIONKEY INT)"
        )
        st.close()
    finally:
        conn.close()

    n = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("N_NATIONKEY"),
        F.col("n_name").alias("N_NAME"),
        F.col("n_regionkey").cast("int").alias("N_REGIONKEY"),
    )
    # staging string columns pinned to VARCHAR: Spark's CLOB default
    # breaks Derby's MERGE (see upsert_jdbc docstring)
    vtypes = "N_NAME VARCHAR(64)"
    upsert_jdbc(
        n.filter(F.col("N_NATIONKEY") < 15), url, "NATION_UP", ["N_NATIONKEY"],
        properties=_DERBY_PROPS, staging_column_types=vtypes,
    )
    corrected = n.filter(F.col("N_NATIONKEY") < 25).withColumn(
        "N_REGIONKEY", F.col("N_REGIONKEY") + 100
    )
    upsert_jdbc(corrected, url, "NATION_UP", ["N_NATIONKEY"],
                properties=_DERBY_PROPS, staging_column_types=vtypes)
    # redelivery: value-level no-op (the oracle hash proves it)
    upsert_jdbc(corrected, url, "NATION_UP", ["N_NATIONKEY"],
                properties=_DERBY_PROPS, staging_column_types=vtypes)
    # intra-batch duplicate key → MERGE cardinality/PK violation →
    # the WHOLE statement rolls back (keys 30/31 must be absent).
    # LITERAL rows: the rollback proof must not depend on the input
    # table being non-empty (r10 degenerate-input sweep fix)
    poison = spark.createDataFrame(
        [(30, "dup", 30), (31, "dup2", 31), (31, "dup2", 31)],
        "N_NATIONKEY int, N_NAME string, N_REGIONKEY int",
    )
    try:
        upsert_jdbc(poison, url, "NATION_UP", ["N_NATIONKEY"],
                    properties=_DERBY_PROPS, staging_column_types=vtypes)
        raise AssertionError("poison MERGE should have failed")
    except AssertionError:
        raise
    except Exception as e:  # noqa: BLE001 — narrowed by the assert below
        # expected: duplicate-key violation rolled the MERGE back; any
        # OTHER failure re-raises (VERDICT r10 #4)
        _assert_integrity_violation(e)
    out = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "NATION_UP")
        .options(**_DERBY_PROPS)
        .load()
    )
    return out.select(
        F.col("N_NATIONKEY").alias("n_nationkey"),
        F.col("N_NAME").alias("n_name"),
        F.col("N_REGIONKEY").alias("n_regionkey"),
    )


@_q(
    "k2_snapshot_roundtrip",
    """
    SELECT r_regionkey, r_name, DATE '2024-01-02' AS fecha_carga FROM region
    """,
    tags=("K2", "A4", "D7"),
)
def k2_snapshot_roundtrip(spark, sf_dir):
    """K2+A4 — daily snapshot append partitioned by the load stamp
    (cartera.py:179) followed by the latest-snapshot read, which
    resolves to static partition pruning: two snapshots land, only the
    2024-01-02 partition is scanned back."""
    from etl_rj_spark.sinks.snapshot import append_snapshot, read_latest_snapshot

    d = _scratch("k2")
    r = _t(spark, sf_dir, "region")
    append_snapshot(r, d, snapshot_date=datetime.date(2024, 1, 1))
    append_snapshot(r, d, snapshot_date=datetime.date(2024, 1, 2))
    return read_latest_snapshot(spark, d).select("r_regionkey", "r_name", "fecha_carga")


# ---------------------------------------------------------------------------
# Projection / filter / cast kernels (P1-P5, J2, X9, N3, N5, D7)
# ---------------------------------------------------------------------------

@_q(
    "projection_ops_kernel",
    """
    SELECT c_custkey AS id_cliente, c_name AS nombre_cliente, c_acctbal,
           2024 AS anio, 'cov' AS origen
    FROM customer
    """,
    tags=("P1", "P2", "P3", "P4", "P5"),
)
def projection_ops_kernel(spark, sf_dir):
    """P1-P5 in one chain: rename-by-map with a missing key ignored
    (P2), positional rename of column 0 (P3), drop with a missing
    column ignored (P1), keep-if-present projection with a ghost
    column (P4), literal columns (P5)."""
    c = _t(spark, sf_dir, "customer")
    df = rename_map(c, {"c_name": "nombre_cliente", "Missing Col ": "x"})
    df = rename_positional(df, {0: "id_cliente"})
    df = df.drop("c_mktsegment", "no_such_column")
    df = select_present(df, ["id_cliente", "nombre_cliente", "c_acctbal", "ghost"])
    return with_literals(df, anio=2024, origen="cov")


@_q(
    "flexible_status_kernel",
    "SELECT o_orderstatus AS estado, COUNT(*) AS n FROM orders GROUP BY 1",
    tags=("P4", "A3"),
)
def flexible_status_kernel(spark, sf_dir):
    """Flexible column detection (pending_orders.py:74-77): the estado
    column is the first present of the candidate list, then a grouped
    count over it."""
    o = _t(spark, sf_dir, "orders")
    col = first_present_column(o, ["Validated Status ", "o_orderstatus"])
    return o.groupBy(F.col(col).alias("estado")).agg(F.count("*").alias("n"))


@_q(
    "dict_map_lookup_kernel",
    """
    SELECT n_nationkey,
           CASE n_regionkey WHEN 0 THEN 'AFRICA-ES' WHEN 1 THEN 'AMERICA-ES'
                WHEN 2 THEN 'ASIA-ES' WHEN 3 THEN 'EUROPA'
                WHEN 4 THEN 'ORIENTE-MEDIO' END AS region_es
    FROM nation
    """,
    tags=("J2",),
)
def dict_map_lookup_kernel(spark, sf_dir):
    """J2 — static dict-map lookup (ventas_totales.py:55-59 name maps)
    as a literal MAP expression — no join, no shuffle, pure scan-stage
    work at any scale."""
    mapping = {
        0: "AFRICA-ES",
        1: "AMERICA-ES",
        2: "ASIA-ES",
        3: "EUROPA",
        4: "ORIENTE-MEDIO",
    }
    m = F.create_map(*[F.lit(x) for kv in mapping.items() for x in kv])
    n = _t(spark, sf_dir, "nation")
    return n.select("n_nationkey", m[F.col("n_regionkey")].alias("region_es"))


@_q(
    "regex_extract_kernel",
    """
    SELECT c_custkey,
           CAST(regexp_extract(c_name, '#([0-9]+)$', 1) AS BIGINT) AS name_serial
    FROM customer
    """,
    tags=("X9",),
)
def regex_extract_kernel(spark, sf_dir):
    """X9 — regex token extraction (wor2.py:42 zone tokens): pull the
    numeric serial out of 'Customer#000000001'-shaped names."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.regexp_extract("c_name", "#([0-9]+)$", 1).cast("long").alias("name_serial"),
    )


@_q(
    "hard_casts_kernel",
    """
    SELECT o_orderkey, CAST(o_orderkey AS VARCHAR) AS key_str,
           CAST(o_orderdate AS DATE) AS fecha,
           CAST(FLOOR(o_totalprice) AS BIGINT) AS total_floor
    FROM orders
    """,
    tags=("N3",),
)
def hard_casts_kernel(spark, sf_dir):
    """N3 — hard ``astype`` casts (ventas_totales.py:162): int→string,
    timestamp→date, and double→int via explicit FLOOR (a bare
    fractional-double→int cast truncates in Spark but rounds in other
    engines — never shared bare; SURVEY §4)."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.col("o_orderkey").cast("string").alias("key_str"),
        F.col("o_orderdate").cast("date").alias("fecha"),
        F.floor("o_totalprice").cast("long").alias("total_floor"),
    )


@_q(
    "fillna_zero_kernel",
    """
    -- whole-frame fillna: na.fill(-1.0) fills EVERY numeric column,
    -- keys included (r10 nullmix parity)
    SELECT COALESCE(l_orderkey, -1) AS l_orderkey,
           COALESCE(l_linenumber, -1) AS l_linenumber,
           COALESCE(NULLIF(l_discount, 0.0), -1.0) AS disc
    FROM lineitem
    """,
    tags=("N5",),
)
def fillna_zero_kernel(spark, sf_dir):
    """N5 — whole-frame fillna (wor2.py:51 ``fillna(0)``): nulls are
    manufactured via NULLIF (the shared tables have none), then the
    frame-level ``na.fill`` closes them."""
    li = _t(spark, sf_dir, "lineitem")
    df = li.select(
        "l_orderkey",
        "l_linenumber",
        F.nullif(F.col("l_discount"), F.lit(0.0)).alias("disc"),
    )
    return df.na.fill(-1.0)


@_q(
    "load_stamp_kernel",
    """
    SELECT r_regionkey, CAST(year(current_date) AS INTEGER) AS anio_carga
    FROM region
    """,
    tags=("D7",),
)
def load_stamp_kernel(spark, sf_dir):
    """D7 — current-date/year load stamp (cartera.py:179,
    ``datetime.now().year`` wor2.py:216): both engines evaluate
    current_date at check time (same day)."""
    r = _t(spark, sf_dir, "region")
    return r.select(
        "r_regionkey", F.year(F.current_date()).cast("int").alias("anio_carga")
    )


def _pagerank_oracle() -> str:
    """Unrolled-iteration PageRank oracle: same integer update, same
    operation order, 5 CTE rounds instead of a loop."""
    base = [
        "WITH edges AS (",
        "  SELECT DISTINCT user_id % 64 AS src,",
        "         ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 7))::BIGINT % 64 AS dst",
        "  FROM events",
        "  WHERE user_id % 64 <> ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 7))::BIGINT % 64",
        "),",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),",
        "nn AS (SELECT COUNT(*) AS n FROM nodes),",
        "outdeg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),",
        "r0 AS (SELECT node, 1000000000 // nn.n AS rank_ppb FROM nodes CROSS JOIN nn)",
    ]
    for t in range(5):
        base.append(
            f""", r{t + 1} AS (
      SELECT n2.node,
             (150000000 // nn.n) + COALESCE(c.s, 0) AS rank_ppb
      FROM nodes n2 CROSS JOIN nn
      LEFT JOIN (
        SELECT e.dst AS node,
               CAST(SUM(((r.rank_ppb * 85) // 100) // o.deg) AS BIGINT) AS s
        FROM edges e JOIN r{t} r ON e.src = r.node
        JOIN outdeg o ON e.src = o.src
        GROUP BY e.dst
      ) c ON n2.node = c.node
    )"""
        )
    base.append("SELECT node, rank_ppb FROM r5 ORDER BY rank_ppb DESC, node")
    return "\n".join(base)


@_q(
    "pagerank_interaction_graph",
    _pagerank_oracle(),
    tags=("graph", "pagerank", "iterative"),
)
def pagerank_interaction_graph(spark, sf_dir):
    """Integer PageRank over a 64-node interaction graph derived
    deterministically from events (src = user bucket, dst = md5 bucket
    of the event id — both engines derive identical edges). 5 power
    iterations via ``pagerank_integer``; the oracle unrolls the same
    integer recurrence in CTEs, so equality is exact, not
    approximate."""
    from etl_rj_spark.operators.components import pagerank_integer

    ev = _t(spark, sf_dir, "events")
    dst = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 7), 16, 10)
        .cast("long") % 64
    )
    edges = (
        ev.select((F.col("user_id") % 64).alias("src"), dst.alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return pagerank_integer(edges, iterations=5).orderBy(
        F.desc("rank_ppb"), "node"
    )


@_q(
    "fixed_width_roundtrip",
    """
    SELECT c_custkey, c_name,
           CAST(ROUND(c_acctbal*100) AS BIGINT) / 100.0 AS c_acctbal,
           c_mktsegment
    FROM customer WHERE c_custkey <= 500
    """,
    tags=("source-fixed-width", "sink-fixed-width"),
)
def fixed_width_roundtrip(spark, sf_dir):
    """Fixed-width mux → demux roundtrip: 500 customers written as a
    positional text grid (numerics right-aligned, text left-aligned;
    money as integer cents so the grid never carries float text) and
    sliced back with scan-stage substring/try_cast. The oracle is the
    same projection straight off the parquet table — the roundtrip
    must be lossless."""
    from etl_rj_spark.sources.fixed_width import read_fixed_width, write_fixed_width

    d = _scratch("fw")
    src = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 500)
        .select(
            "c_custkey", "c_name",
            F.round(F.col("c_acctbal") * 100).cast("long").alias("acct_cents"),
            "c_mktsegment",
        )
    )
    fields = [
        ("c_custkey", 12, "bigint"),
        ("c_name", 30, "string"),
        ("acct_cents", 14, "bigint"),
        ("c_mktsegment", 12, "string"),
    ]
    write_fixed_width(src, d, fields)
    back = read_fixed_width(spark, d, fields)
    return back.select(
        "c_custkey", "c_name",
        (F.col("acct_cents") / 100.0).alias("c_acctbal"),
        "c_mktsegment",
    )


@_q(
    "arrow_ipc_roundtrip",
    """
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    UNION ALL
    SELECT NULL, NULL, NULL
    ORDER BY n_nationkey NULLS LAST
    """,
    tags=("source-arrow-ipc", "sink-arrow-ipc", "quarantine"),
)
def arrow_ipc_roundtrip(spark, sf_dir):
    """Arrow IPC shard roundtrip with dead-letter: nation written as 4
    Arrow files via the mapInPandas sink (manifest checked to cover
    all rows), one garbage .arrow file planted beside them, then read
    back with ``on_error='quarantine'`` — good rows reproduce the
    table, the corrupt file yields exactly one quarantine row (the
    oracle's NULL row)."""
    from etl_rj_spark.sources.arrow_ipc import read_arrow_files, write_arrow_files

    d = _scratch("arrow")
    os.makedirs(d)
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    n_rows_in = n.count()  # data-independent manifest check (r10)
    manifest = write_arrow_files(n.repartition(4), d).collect()
    assert sum(r.n_rows for r in manifest) == n_rows_in, manifest
    with open(os.path.join(d, "garbage.arrow"), "wb") as f:
        f.write(b"not an arrow file at all")
    back = read_arrow_files(
        spark, d, "n_nationkey long, n_name string, n_regionkey long",
        on_error="quarantine",
    )
    return back.select(
        "n_nationkey", "n_name", "n_regionkey"
    ).orderBy(F.asc_nulls_last("n_nationkey"))


_GRAPH_EDGES_SQL = """
      SELECT DISTINCT LEAST(user_id % 64,
               ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 7))::BIGINT % 64) AS a,
             GREATEST(user_id % 64,
               ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 7))::BIGINT % 64) AS b
      FROM events
      WHERE user_id % 64 <> ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 7))::BIGINT % 64
"""


@_q(
    "triangle_count",
    f"""
    WITH e AS ({_GRAPH_EDGES_SQL})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM e e1 JOIN e e2 ON e1.b = e2.a AND e1.a < e2.a
    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    """,
    tags=("graph", "triangle-count"),
)
def triangle_count(spark, sf_dir):
    """Exact triangle count over the undirected interaction graph (the
    same deterministic events-derived edges PageRank uses, canonical
    a<b orientation). The two-join ordered-wedge formulation counts
    each triangle exactly once — the standard MapReduce-era algorithm;
    at scale the first join keys on the wedge midpoint, so degree skew
    is the cost driver (mitigate with the usual high-degree-vertex
    split; this graph is 64 nodes, the SHAPE is the contract)."""
    ev = _t(spark, sf_dir, "events")
    src = F.col("user_id") % 64
    dst = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 7), 16, 10)
        .cast("long") % 64
    )
    e = (
        ev.select(F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    e1 = e.toDF("a1", "b1")
    e2 = e.toDF("a2", "b2")
    e3 = e.toDF("a3", "b3")
    wedges = e1.join(e2, (F.col("b1") == F.col("a2")) & (F.col("a1") < F.col("a2")))
    tris = wedges.join(
        e3, (F.col("a3") == F.col("a1")) & (F.col("b3") == F.col("b2"))
    )
    return tris.agg(F.count(F.lit(1)).alias("n_triangles"))


_REACH_SQL = """
    WITH RECURSIVE edges AS (
      SELECT DISTINCT user_id % 64 AS src,
             {dst_expr} % 64 AS dst
      FROM events
      WHERE user_id % 64 <> {dst_expr} % 64
    ),
    walk(node, hops) AS (
      SELECT CAST(0 AS BIGINT) AS node, 0 AS hops
      UNION ALL
      SELECT e.dst AS node, w.hops + 1 AS hops
      FROM walk w JOIN edges e ON e.src = w.node
      WHERE w.hops < 3
    )
    SELECT node, CAST(MIN(hops) AS BIGINT) AS min_hops
    FROM walk GROUP BY node ORDER BY node
"""

_DST_SPARK = "CAST(conv(substring(md5(CAST(event_id AS STRING)), 1, 7), 16, 10) AS BIGINT)"
_DST_DUCK = "('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 7))::BIGINT"


@_q(
    "recursive_reachability",
    _REACH_SQL.format(dst_expr=_DST_DUCK),
    tags=("graph", "recursive-cte", "sql-surface"),
)
def recursive_reachability(spark, sf_dir):
    """BFS reachability through Spark 4's ``WITH RECURSIVE`` — minimum
    hop count from node 0 over the deterministic interaction graph,
    frontier capped at 3 hops. The ONE surface where the engine runs a
    recursive SQL query natively (the DataFrame twins —
    connected_components, pagerank_integer — unroll their iterations
    explicitly); DuckDB executes the same recursive CTE, so equality
    covers both the SQL dialect parity and the fixpoint semantics.

    Scale: each recursion level is one frontier⋈edges join — the same
    per-iteration shape as the unrolled loops, with Spark managing the
    fixpoint; cap the depth the way the loops cap ``iterations``."""
    from etl_rj_spark.analytics.sql_surface import register_tables

    register_tables(spark, sf_dir)
    return spark.sql(_REACH_SQL.format(dst_expr=_DST_SPARK))


@_q(
    "cdc_apply_orders",
    """
    WITH log AS (
      SELECT l_orderkey AS k, l_linenumber AS seq,
             CASE WHEN l_linenumber % 5 = 0 THEN 'D' ELSE 'U' END AS op,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS new_cents
      FROM lineitem
    ), last AS (
      SELECT k, seq, op, new_cents,
             row_number() OVER (PARTITION BY k ORDER BY seq DESC, new_cents DESC, op DESC) AS rn
      FROM log
    ), l1 AS (SELECT k, seq, op, new_cents FROM last WHERE rn = 1),
    base AS (
      SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    )
    SELECT coalesce(base.o_orderkey, l1.k) AS o_orderkey,
           CASE WHEN l1.op IS NULL THEN base.cents ELSE l1.new_cents END AS cents,
           CAST(coalesce(l1.seq, 0) AS BIGINT) AS version
    FROM base FULL OUTER JOIN l1 ON base.o_orderkey = l1.k
    WHERE l1.op IS NULL OR l1.op <> 'D'
    """,
    tags=("cdc", "merge-deletes", "K1-generalized"),
)
def cdc_apply_orders(spark, sf_dir):
    """CDC apply with deletes: lineitem stands in for an ordered
    operation log over order keys (linenumber = sequence; every 5th
    line a delete, the rest updates carrying extendedprice cents); the
    highest-sequence op per key wins against the orders base — deletes
    drop the key, untouched keys keep their base value at version 0.
    The merge shape `merge_upsert_orders` cannot express; one window
    pass on the log plus one key-shuffled full-outer join."""
    from etl_rj_spark.operators.scd import cdc_apply_log

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        F.col("l_linenumber").alias("seq"),
        F.when(F.col("l_linenumber") % 5 == 0, F.lit("D")).otherwise(F.lit("U")).alias("op"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    return cdc_apply_log(
        base, li, key_cols=["o_orderkey"], seq_col="seq", op_col="op",
        value_col="cents",
    )

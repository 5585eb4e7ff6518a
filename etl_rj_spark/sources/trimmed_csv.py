"""S2 — CSV source with report-header/footer junk lines
(``pd.read_csv(..., skiprows=6, skipfooter=1)``, cartera.py:68,
pending_orders.py:59).

Spark has no native ``skipfooter``; this source reads the file as
lines, assigns a per-file line index, drops the first ``skiprows``
lines and the last ``skipfooter`` lines, then parses the remainder
with ``from_csv`` against the header row.

Distribution semantics (SURVEY §4): the footer is defined on the
*file tail*, so indices must reflect file line order. Line order is
recovered per file via ``monotonically_increasing_id`` (increasing in
file-offset order for a parquet/text FileScan) windowed by
``_metadata.file_path`` — correct for any number of files, each
ordered independently. Quoted fields containing newlines are not
supported (the reference's source exports never contain them).

The parsed output carries ``_row_idx`` (0-based data-row index per
file) to support order-dependent ops downstream (F5 drop-first-row,
and the reference's error messages that cite source line numbers,
ventas_totales.py:242's ``+6`` arithmetic).
"""

from __future__ import annotations

import csv as _csv
import io

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_csv_trimmed(
    spark: SparkSession,
    path: str,
    skiprows: int = 6,
    skipfooter: int = 1,
    sep: str = ",",
) -> DataFrame:
    """Read CSV(s) at ``path`` skipping ``skiprows`` leading junk lines
    and ``skipfooter`` trailing junk lines per file; the first kept
    line is the header. All columns are strings (the reference relies
    on post-read lenient casts; header names keep trailing spaces)."""
    text = spark.read.text(path)
    raw = text.select(
        "value",
        F.col("_metadata.file_path").alias("_file"),
        F.monotonically_increasing_id().alias("_mid"),
    )
    w = Window.partitionBy("_file").orderBy("_mid")
    lines = raw.select(
        "value",
        "_file",
        (F.row_number().over(w) - 1).alias("_idx"),
        F.count("*").over(Window.partitionBy("_file")).alias("_n"),
    )

    # header discovery: one line per FILE, driver-side (metadata, not
    # data). Fail loudly on per-file header drift — parsing a drifted
    # file against an arbitrary sibling's header would silently
    # misalign its columns (the xls_datasource applies the same rule)
    hdr_rows = [
        (line, f)
        for f in text.inputFiles()
        if (line := _line_at(spark, f, skiprows)) is not None
    ]
    if not hdr_rows:
        raise ValueError(f"{path}: no header line at index {skiprows}")
    if len({line for line, _ in hdr_rows}) > 1:
        drifted = sorted({f for _, f in hdr_rows})
        raise ValueError(
            f"{path}: header drift across {len(drifted)} files at line "
            f"{skiprows} — every file must share one header"
        )
    header = next(_csv.reader(io.StringIO(hdr_rows[0][0]), delimiter=sep))
    # DDL string (from_csv takes no StructType); backticks preserve the
    # trailing spaces the reference's rename maps key on
    schema = ", ".join(f"`{c.replace('`', '``')}` STRING" for c in header)

    body = lines.filter(
        (F.col("_idx") > skiprows) & (F.col("_idx") < F.col("_n") - skipfooter)
    )
    return body.select(
        F.from_csv("value", schema, {"sep": sep}).alias("r"),
        (F.col("_idx") - skiprows - 1).alias("_row_idx"),
    ).select("r.*", "_row_idx")


def _line_at(spark: SparkSession, file_uri: str, idx: int) -> str | None:
    """Line ``idx`` (0-based) of one file, read on the driver through
    the Hadoop FS API: only the first ``idx + 1`` lines are read, no
    Spark job starts. ``BufferedReader.readLine`` ends a line at
    ``\\n``, ``\\r`` or ``\\r\\n``, the terminators of Spark's text
    source; compressed files decode through the same codec lookup.
    None when the file has no such line."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    # ``inputFiles`` gives escaped URIs ("a%20b.csv"): parse them as a
    # URI, never as a path string, or the escape is taken literally
    p = jvm.org.apache.hadoop.fs.Path(jvm.java.net.URI(file_uri))
    stream = p.getFileSystem(conf).open(p)
    codec = jvm.org.apache.hadoop.io.compress.CompressionCodecFactory(conf).getCodec(p)
    if codec is not None:
        stream = codec.createInputStream(stream)
    reader = jvm.java.io.BufferedReader(jvm.java.io.InputStreamReader(stream, "UTF-8"))
    try:
        for _ in range(idx):
            if reader.readLine() is None:
                return None
        return reader.readLine()
    finally:
        reader.close()

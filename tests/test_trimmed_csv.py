"""``sources.trimmed_csv.read_csv_trimmed``: rows and header discovery.

The header is read on the driver from each file's first lines, so the
tests pin the output against a plain-Python parse of the same bytes for
the line-ending shapes Spark's text source accepts, and check that the
call itself starts no Spark job.
"""

from __future__ import annotations

import csv
import io
import uuid

import pytest

from etl_rj_spark.sources.trimmed_csv import read_csv_trimmed

_JUNK = ["Report: cartera", "generated today", "", "filters: none", "page 1", "---"]
_HEADER = "Customer ,Amount ,Doc "
_ROWS = ['ACME,"1,500.00",D1', "", "Beta,7,D2", 'Gamma,"x, y",D3']
_FOOTER = "Total,,"


def _text(eol: str = "\n", trailing: bool = True, header: str = _HEADER) -> str:
    body = eol.join(_JUNK + [header] + _ROWS + [_FOOTER])
    return body + (eol if trailing else "")


def _expected(texts: list[str], skiprows: int = 6, skipfooter: int = 1) -> list[tuple]:
    """Plain-Python reading of the same files: split lines on CR, LF or
    CRLF, keep the lines between the header and the footer, parse them
    against the header."""
    out = []
    for text in texts:
        lines = text.splitlines()
        header = next(csv.reader([lines[skiprows]]))
        for i, line in enumerate(lines[skiprows + 1 : len(lines) - skipfooter]):
            cells = next(csv.reader(io.StringIO(line)), [])
            cells = (cells + [None] * len(header))[: len(header)]
            out.append((*cells, i))
    return sorted(out, key=repr)


def _read(spark, path: str, **kw):
    df = read_csv_trimmed(spark, path, **kw)
    return df, sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.mark.parametrize(
    "eol,trailing",
    [("\n", True), ("\r\n", True), ("\r\n", False), ("\n", False), ("\r", True)],
    ids=["lf", "crlf", "crlf-no-trailing-newline", "lf-no-trailing-newline", "cr"],
)
def test_single_file_matches_plain_parse(spark, tmp_path, eol, trailing):
    text = _text(eol, trailing)
    p = tmp_path / "cartera.csv"
    p.write_bytes(text.encode())
    df, rows = _read(spark, str(p))
    assert df.columns == ["Customer ", "Amount ", "Doc ", "_row_idx"]
    assert rows == _expected([text])
    # the blank data line survives as an all-NULL row, as in Spark's CSV
    assert (None, None, None, 1) in rows


def test_multi_file_directory(spark, tmp_path):
    texts = [_text("\r\n", True), _text("\n", False)]
    # file names Spark lists as escaped URIs
    for name, text in zip(("part 0.csv", "part%1.csv"), texts):
        (tmp_path / name).write_bytes(text.encode())
    _, rows = _read(spark, str(tmp_path))
    assert rows == _expected(texts)


def test_header_drift_and_missing_header_errors(spark, tmp_path):
    d = tmp_path / "drift"
    d.mkdir()
    (d / "a.csv").write_text(_text())
    (d / "b.csv").write_text(_text(header="Customer,Amount,Doc"))
    with pytest.raises(ValueError, match=r"header drift across 2 files at line 6 — every file must share one header"):
        read_csv_trimmed(spark, str(d))
    short = tmp_path / "short.csv"
    short.write_text("\n".join(_JUNK[:4]) + "\n")
    with pytest.raises(ValueError, match=r"no header line at index 6"):
        read_csv_trimmed(spark, str(short))


def test_header_discovery_starts_no_spark_job(spark, tmp_path):
    p = tmp_path / "cartera.csv"
    p.write_text(_text())
    sc = spark.sparkContext
    group = f"trimmed-csv-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read_csv_trimmed header discovery")
    try:
        read_csv_trimmed(spark, str(p))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

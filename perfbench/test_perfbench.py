"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The generator tests need no JVM. The traced smoke test runs each
workload once at a tiny size in a subprocess (about a minute each).
"""

from __future__ import annotations

import datetime
import json
import os
import re
import subprocess
import sys

import pyarrow as pa
import pyarrow.csv as pa_csv
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

SIZE = 0.0005  # 3k order lines


def _read(path: str, skip: int = 0, footer: int = 0) -> pa.Table:
    """Every column as a string, the way the loaders read them."""
    with open(path) as f:
        header = f.readlines()[skip].rstrip("\n").split(",")
    t = pa_csv.read_csv(
        path,
        read_options=pa_csv.ReadOptions(skip_rows=skip),
        convert_options=pa_csv.ConvertOptions(column_types={h: pa.string() for h in header}),
    )
    return t.slice(0, t.num_rows - footer)


def _mdy(s: str | None) -> bool:
    try:
        datetime.datetime.strptime(s or "", "%m/%d/%Y")
        return True
    except ValueError:
        return False


def _clean_name(s: str | None) -> str:
    s = re.sub(r"[^a-z0-9\s]", "", (s or "").strip().lower())
    return re.sub(r"\s+", " ", s).strip()


@pytest.mark.parametrize("kind", ["tables", "exports"])
def test_generator_writes_identical_bytes(tmp_path, kind):
    params = {"docs": 20} if kind == "tables" else {}
    a = gen.ensure(kind, str(tmp_path / "a"), 7, SIZE, **params)
    b = gen.ensure(kind, str(tmp_path / "b"), 7, SIZE, **params)
    assert a == b
    names = sorted(os.listdir(tmp_path / "a"))
    assert names == sorted(os.listdir(tmp_path / "b")) and len(names) > 3
    for n in names:
        assert (tmp_path / "a" / n).read_bytes() == (tmp_path / "b" / n).read_bytes(), n
    gen.ensure(kind, str(tmp_path / "c"), 8, SIZE, **params)
    data = "lineitem.parquet" if kind == "tables" else "ventas_full.csv"
    assert (tmp_path / "c" / data).read_bytes() != (tmp_path / "a" / data).read_bytes()


def test_manifest_matches_recount(tmp_path):
    m = gen.ensure("exports", str(tmp_path), 3, SIZE)
    clientes = pq.read_table(tmp_path / "clientes.parquet").column("nombre_cliente").to_pylist()
    lower = {n.strip().lower() for n in clientes}
    cleaned = {_clean_name(n) for n in clientes}

    def ventas(name):
        t = _read(str(tmp_path / name))
        names, dates = t.column("Company Name").to_pylist(), t.column("Date").to_pylist()
        keys = list(zip(t.column("Document Number").to_pylist(), t.column("Item").to_pylist()))
        mapped = [(n or "").strip().lower() in lower for n in names]
        valid = {k for k, ok, d in zip(keys, mapped, dates) if ok and _mdy(d)}
        unmapped = {n for n, ok in zip(names, mapped) if not ok}
        amounts = t.column("Amount").to_pylist()
        null_amount = sum(1 for a in amounts if not re.fullmatch(r"\$?[\d,]+\.\d\d", a or ""))
        return t.num_rows, valid, unmapped, mapped.count(False), dates, null_amount

    v = m["ventas"]
    n_base, base, unmapped, n_unmapped, dates, null_amount = ventas("ventas_base.csv")
    n_full, full, *_ = ventas("ventas_full.csv")
    assert (n_base, n_full) == (v["rows_base"], v["rows_full"])
    assert len(base) == v["inserted_first"]
    assert len(full - base) == v["inserted_delta"]
    assert len(full) == v["rows_out_delta"]
    assert (len(unmapped), n_unmapped) == (v["unmapped_names_base"], v["unmapped_rows_base"])
    assert sum(not _mdy(d) for d in dates) == v["bad_dates_base"]
    assert null_amount == v["null_amount_base"]

    for phase, name_col in (("cartera", "Customer:Project "), ("pending", "Customer ")):
        t = _read(str(tmp_path / f"{phase}.csv"), skip=6, footer=1)
        names = t.column(name_col).to_pylist()
        assert t.num_rows == m[phase]["rows"]
        assert sum(_clean_name(n) in cleaned for n in names) == m[phase]["snapshot_rows"]


def test_benchmark_json_lists_the_runner_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["per_layer"]] == run.per_layer_names()
    assert all(m["unit"] == run.unit(m["name"]) for m in bench["per_layer"])
    assert [m["name"] for m in bench["end_to_end"]] == ["setup_s", "makespan_s"]
    assert {w["name"] for w in bench["workloads"]} == set(run.workloads.WORKLOADS)


_TINY = """
import sys
sys.path.insert(0, {here!r})
import workloads
workloads.DailyLoad.size = 0.0005
workloads.Queries.size, workloads.Queries.docs = 0.001, 20
import run
sys.exit(run.main(["--workload", {workload!r}, "--seed", "5", "--seconds", "1", "--trace", "1"]))
"""


@pytest.mark.parametrize("workload", ["daily_load", "queries"])
def test_traced_smoke_emits_every_per_layer_metric(workload):
    p = subprocess.run(
        [sys.executable, "-c", _TINY.format(here=HERE, workload=workload)],
        capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert list(result["metrics"]) == run.per_layer_names()
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["session.cold_pass_s"] > 0 and m["engine.tasks"] > 0 and m["engine.jobs"] > 0
    if workload == "daily_load":
        assert m["operators.anti_join_dup_ratio.rerun"] == 1.0
        assert m["operators.anti_join_dup_ratio.first"] == 0.0
        assert m["sinks.rows_written.rerun"] == 0 and m["sinks.files_written"] > 0
    else:
        assert m["operators.lsh_verified_pairs"] > 0 and m["operators.cosine_pairs_scored"] > 0
        assert 0 < m["operators.lsh_precision"] <= 1

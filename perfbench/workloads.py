"""The benchmark's workloads, driven through the engine's public functions.

A workload turns generated inputs into *passes*. A pass is a list of
ops run in a fixed order; the runner times whole passes and each op.
Every pass of ``daily_load`` writes into a fresh warehouse directory,
so all passes see identical state.

``daily_load`` — the reference's own job, in the order a day runs it:
ventas first load into an empty warehouse, the same export again
(must insert 0), the full export whose rows are ~90 % already loaded,
then the cartera and pending-orders snapshots of one day appended onto
tables already holding the previous day. The share of already-loaded
rows runs 0 → 100 % → ~90 % across the three ventas phases.

``queries`` — registry rows read from the generated star schema and
materialized through the noop sink: the reference's analyst patterns
(snapshot trend, LAG day over day, client-zone rollup, the anti-join
dedup shape), TPC-H-shaped aggregate/join/window rows, and the LLM
curation kernels (MinHash LSH near-duplicates, cosine top-k). Sinks
stay idle, so a loader or sink change must not move it.
"""

from __future__ import annotations

import datetime
import os
import shutil

import gen

PREVIOUS_DAY = datetime.date(2002, 1, 1)
SNAPSHOT_DAY = datetime.date(2002, 1, 2)

#: Rows of the ``queries`` workload, in pass order.
QUERY_ROWS = [
    "trend_total_by_snapshot", "lag_day_over_day", "client_zone_rollup",
    "incremental_anti_join", "topk_orders_per_customer", "exact_dedup_docs",
    "minhash_lsh_pairs_scaled", "cosine_topk_scaled",
]


class CheckFailed(AssertionError):
    pass


def _check(label: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{label}: got {got!r}, expected {want!r}")


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _inputs(work: str, kind: str, seed: int) -> str:
    """This seed's input directory; other seeds' inputs are removed."""
    os.makedirs(work, exist_ok=True)
    for name in os.listdir(work):
        if name.startswith(f"{kind}-") and name != f"{kind}-{seed}":
            shutil.rmtree(os.path.join(work, name), ignore_errors=True)
    return os.path.join(work, f"{kind}-{seed}")


def _dir_usage(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring hidden/metadata files."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


class DailyLoad:
    name = "daily_load"
    size = 0.01  # ventas export of 60k order lines
    phases = ("first", "rerun", "delta", "cartera", "pending")
    ops = ("first_load", "rerun", "delta_load", "snapshot_load")
    #: the checking pass is a full pass, so it is the warm-up; the first
    #: pass after it is 0-10 % slower than later ones, which the median
    #: over the timed passes absorbs
    warmup_passes = 0

    def __init__(self, work: str, seed: int) -> None:
        self.dir = _inputs(work, "exports", seed)
        self.manifest = gen.ensure("exports", self.dir, seed, self.size)
        self.wh_root = os.path.join(work, "warehouse")
        self.template = os.path.join(work, "previous-day")
        self.n = 0

    def start(self, spark) -> None:
        from etl_rj_spark.operators.dedup import anti_join_new_rows
        from etl_rj_spark.pipelines import cartera, pending_orders, ventas
        from etl_rj_spark.sinks.snapshot import append_snapshot
        from etl_rj_spark.sources.trimmed_csv import read_csv_trimmed

        self.spark = spark
        self.ventas, self.cartera, self.pending = ventas, cartera, pending_orders
        self.append_snapshot, self.read_csv_trimmed = append_snapshot, read_csv_trimmed
        self.anti_join_new_rows = anti_join_new_rows
        self.clientes = spark.read.parquet(os.path.join(self.dir, "clientes.parquet"))
        shutil.rmtree(self.wh_root, ignore_errors=True)
        shutil.rmtree(self.template, ignore_errors=True)

    # -- one phase each, built from scratch ---------------------------------
    def _source(self, phase: str):
        if phase in ("first", "rerun", "delta"):
            f = "ventas_full.csv" if phase == "delta" else "ventas_base.csv"
            return self.ventas.read_sales_export(self.spark, os.path.join(self.dir, f))
        return self.read_csv_trimmed(self.spark, os.path.join(self.dir, f"{phase}.csv"))

    def _clean(self, phase: str, src):
        if phase in ("first", "rerun", "delta"):
            return self.ventas.clean_ventas(src, self.clientes)
        if phase == "cartera":
            return self.cartera.clean_cartera(src, self.clientes)
        return self.pending.clean_pending_orders(src, self.clientes)

    def _load(self, phase: str, wh: str):
        """The real call of ``phase``; returns (rows written, unmapped names frame)."""
        src = self._source(phase)
        if phase in ("first", "rerun", "delta"):
            return self.ventas.load_ventas(self.spark, src, self.clientes, os.path.join(wh, "ventas"))
        rows, unmapped = self._clean(phase, src)
        self.append_snapshot(rows, os.path.join(wh, phase), snapshot_date=SNAPSHOT_DAY)
        return None, unmapped

    def _fresh_warehouse(self) -> str:
        shutil.rmtree(self.wh_root, ignore_errors=True)
        self.n += 1
        wh = os.path.join(self.wh_root, str(self.n))
        if os.path.isdir(self.template):
            shutil.copytree(self.template, wh)
        else:
            os.makedirs(wh)
        return wh

    def run_pass(self, tracer, check: bool = False) -> dict[str, float]:
        """One pass into a fresh warehouse; returns seconds per op. Insert
        counts are checked on every pass (the loader returns them);
        ``check`` adds the snapshot-row and unmapped-name checks."""
        m = self.manifest["ventas"]
        wh = self.wh = self._fresh_warehouse()
        out: dict[str, float] = {}
        unmapped = {}
        for op, phases in (("first_load", ["first"]), ("rerun", ["rerun"]),
                           ("delta_load", ["delta"]), ("snapshot_load", ["cartera", "pending"])):
            with tracer.span(op) as s:
                for phase in phases:
                    with tracer.span(f"phase.{phase}"):
                        inserted, unmapped[phase] = self._load(phase, wh)
            out[op] = s["end"] - s["start"]
            if inserted is not None:
                _check(f"{op} inserted", inserted, m[f"inserted_{op.split('_')[0]}"])
        if check:
            self.check(wh, unmapped)
        return out

    def after_cold(self) -> None:
        """The cold pass was the first daily run, into an empty warehouse.
        Every later pass appends its snapshots onto a copy of that run's
        snapshot tables, restamped as the previous day."""
        for phase in ("cartera", "pending"):
            rows = self.spark.read.parquet(os.path.join(self.wh, phase)).drop("fecha_carga")
            self.append_snapshot(rows, os.path.join(self.template, phase), snapshot_date=PREVIOUS_DAY)

    def check(self, wh: str, unmapped: dict) -> None:
        m = self.manifest
        _check("unmapped names", unmapped["first"].count(), m["ventas"]["unmapped_names_base"])
        for phase in ("cartera", "pending"):
            snap = self.spark.read.parquet(os.path.join(wh, phase))
            days = {r[0]: r[1] for r in snap.groupBy("fecha_carga").count().collect()}
            _check(f"{phase} snapshot rows", days.get(SNAPSHOT_DAY), m[phase]["snapshot_rows"])
            _check(f"{phase} previous-day rows", days.get(PREVIOUS_DAY), m[phase]["snapshot_rows"])
            _check(f"{phase} unmapped names", unmapped[phase].count(), m[phase]["unmapped_names"])

    def staged_pass(self, tracer) -> dict[str, dict]:
        """Per-phase layer self times, measured from outside: each phase's
        output is forced through the noop sink after the source alone,
        after ``clean_*`` and (ventas re-loads) after the anti-join, then
        the real call runs; consecutive differences are each layer's
        self time. Also counts rows at each boundary (outside the spans)."""
        from pyspark.sql import functions as F

        wh = self._fresh_warehouse()
        res: dict[str, dict] = {}
        for phase in self.phases:
            r: dict = {}
            ventas_phase = phase in ("first", "rerun", "delta")
            target = os.path.join(wh, "ventas" if ventas_phase else phase)
            with tracer.span(f"sources.read.{phase}") as s:
                src = self._source(phase)
                _noop(src)
            r["source"] = s
            with tracer.span(f"pipelines.clean.{phase}") as s:
                rows, _ = self._clean(phase, self._source(phase))
                _noop(rows)
            r["clean"] = s
            if ventas_phase and os.path.isdir(target):
                with tracer.span(f"operators.anti_join.{phase}") as s:
                    facts, _ = self._clean(phase, self._source(phase))
                    existing = self.spark.read.parquet(target).select(*self.ventas.VENTAS_DEDUP_KEYS)
                    _noop(self.anti_join_new_rows(facts, existing, self.ventas.VENTAS_DEDUP_KEYS, on_null_key="match"))
                r["anti_join"] = s
            files0, bytes0 = _dir_usage(target)
            with tracer.span(f"sinks.{'append_incremental' if ventas_phase else 'append_snapshot'}.{phase}") as s:
                inserted, unmapped = self._load(phase, wh)
            r["sink"] = s
            files1, bytes1 = _dir_usage(target)
            # boundary counts, outside every span
            r["rows_read"] = src.count()
            r["rows_out"] = rows.count()
            name_col = "Company Name" if ventas_phase else ("Customer " if phase == "pending" else None)
            if name_col:
                names = unmapped.withColumnRenamed("nombre_cliente", name_col)
                r["rows_unmapped"] = src.join(names, name_col, "left_semi").count()
            else:  # cartera drops unmapped rows only
                r["rows_unmapped"] = r["rows_read"] - r["rows_out"]
            r["rows_malformed"] = r["rows_read"] - r["rows_out"] - r["rows_unmapped"]
            if ventas_phase:
                r["rows_malformed"] += rows.filter(F.col("amount").isNull()).count()
            r["rows_written"] = inserted if inserted is not None else r["rows_out"]
            r["files_written"], r["bytes_written"] = files1 - files0, bytes1 - bytes0
            res[phase] = r
        return res


class Queries:
    name = "queries"
    size = 0.01  # lineitem 60k rows
    docs = 60  # MinHash corpus 25 x 60 docs, cosine corpus 20 x 60 vectors
    #: the checking pass runs the checked builds, not the timed ones, and
    #: the first pass after it is 15-45 % slower than the passes after it
    warmup_passes = 1

    def __init__(self, work: str, seed: int) -> None:
        self.dir = _inputs(work, "tables", seed)
        self.manifest = gen.ensure("tables", self.dir, seed, self.size, docs=self.docs)
        self.ops = tuple(QUERY_ROWS)

    def after_cold(self) -> None:
        pass

    def start(self, spark) -> None:
        from etl_rj_spark.analytics.suite import REGISTRY
        from tests.oracle_utils import duck_connection

        self.spark = spark
        self.rows = {n: REGISTRY[n] for n in QUERY_ROWS}
        self.duck = duck_connection(self.dir)

    def run_pass(self, tracer, check: bool = False) -> dict[str, float]:
        """Each row's builder then a noop-sink write; ``check`` instead
        collects each row's checked build and compares it with its DuckDB
        oracle the way the repo's oracle tests do (a checking pass is not
        timed)."""
        out = {}
        for name, q in self.rows.items():
            self.spark.catalog.clearCache()
            if check:
                with tracer.span(name):
                    self.check(name, q)
                continue
            build = q.bench_build or q.build
            with tracer.span(name) as s:
                with tracer.span("analytics.build"):
                    df = build(self.spark, self.dir)
                with tracer.span("analytics.exec"):
                    _noop(df)
            out[name] = s["end"] - s["start"]
        return out

    def check(self, name: str, q) -> None:
        from tests.oracle_utils import compare_spark_duck

        try:
            compare_spark_duck(q.build(self.spark, self.dir), self.duck, q.oracle)
        except AssertionError as e:
            raise CheckFailed(f"{name}: {e}") from None

    def staged_pass(self, tracer) -> dict[str, dict]:
        """Source self time: a noop scan of every table the rows read."""
        from etl_rj_spark.sources.parquet import read_parquet_table

        res = {}
        for t in ("orders", "customer", "nation", "lineitem", "events", "documents", "embeddings"):
            with tracer.span(f"sources.read.{t}") as s:
                _noop(read_parquet_table(self.spark, os.path.join(self.dir, f"{t}.parquet")))
            res[t] = {"source": s}
        return res


WORKLOADS = {w.name: w for w in (DailyLoad, Queries)}

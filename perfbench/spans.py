"""Spans around the benchmark's calls into the engine, with Spark's own
status-store counters attached.

Spans stay in memory (``Tracer.spans``) and are written as JSON when
the run ends. Each span has a name, start/end (seconds since the
tracer started) and the id of the span that caused it. With counters
on, it also has the deltas of the application status store over the
span (jobs, stages, tasks, task and GC time, input/output/shuffle/spill
bytes) and the ids of the SQL executions started inside it
(``engine.last_execution`` is their count).
"""

from __future__ import annotations

import contextlib
import json
import re
import time

ENGINE_KEYS = (
    "jobs", "stages", "tasks", "task_failures", "task_s", "gc_s", "input_bytes",
    "input_rows", "output_bytes", "output_rows", "shuffle_bytes", "spill_bytes",
    "last_execution",
)


class Engine:
    """Cumulative counters read from the SparkContext's status store
    (served with the UI disabled). ``read()`` folds in every stage that
    finished since the previous call."""

    def __init__(self, spark) -> None:
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        gateway = spark.sparkContext._gateway
        self.no_quantiles = gateway.new_array(gateway.jvm.double, 0)
        self.seen: set[tuple[int, int]] = set()
        self.floor = -1  # every stage id <= floor is final and counted
        self.totals = dict.fromkeys(ENGINE_KEYS, 0.0)

    def read(self) -> dict:
        t = self.totals
        unfinished = []
        # the store lists stages newest first
        it = self.store.stageList(None, False, False, self.no_quantiles, None).iterator()
        while it.hasNext():
            s = it.next()
            sid = s.stageId()
            if sid <= self.floor:
                break
            status = s.status().toString()
            if status in ("ACTIVE", "PENDING"):
                unfinished.append(sid)
                continue
            key = (sid, s.attemptId())
            if key in self.seen or status == "SKIPPED":
                continue
            self.seen.add(key)
            t["stages"] += 1
            t["tasks"] += s.numTasks()
            t["task_failures"] += s.numFailedTasks()
            t["task_s"] += s.executorRunTime() / 1000.0
            t["gc_s"] += s.jvmGcTime() / 1000.0
            t["input_bytes"] += s.inputBytes()
            t["input_rows"] += s.inputRecords()
            t["output_bytes"] += s.outputBytes()
            t["output_rows"] += s.outputRecords()
            t["shuffle_bytes"] += s.shuffleWriteBytes()
            t["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        newest = max((k[0] for k in self.seen), default=-1)
        self.floor = min(unfinished) - 1 if unfinished else max(self.floor, newest)
        # job ids are consecutive from 0 and the store lists the newest
        # first; a count of the retained list would stop at
        # spark.ui.retainedJobs
        jobs = self.store.jobsList(None)
        t["jobs"] = float(jobs.head().jobId() + 1) if jobs.size() else 0.0
        n = self.sql.executionsCount()
        t["last_execution"] = float(self.sql.executionsList(n - 1, 1).head().executionId()) if n else -1.0
        return dict(t)

    def node_rows(self, first: int, last: int, pattern: str) -> list[int]:
        """``number of output rows`` of every plan node whose name
        matches ``pattern``, across executions ``first``..``last``."""
        out = []
        for eid in range(first, last + 1):
            values = self.sql.executionMetrics(eid)
            nodes = self.sql.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                if not re.search(pattern, node.name()):
                    continue
                metrics = node.metrics().iterator()
                while metrics.hasNext():
                    m = metrics.next()
                    if m.name() == "number of output rows" and values.contains(m.accumulatorId()):
                        out.append(int(values.apply(m.accumulatorId()).replace(",", "")))
        return out

    def jvm_peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0


class Tracer:
    """Records spans; when built with an :class:`Engine` each span also
    carries the engine counter deltas over its interval."""

    def __init__(self, engine: Engine | None = None) -> None:
        self.engine = engine
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self.stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        before = self.engine.read() if self.engine else None
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self.stack[-1] if self.stack else None}
        self.spans.append(rec)
        self.stack.append(sid)
        rec["start"] = time.perf_counter() - self.t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self.stack.pop()
            if before is not None:
                after = self.engine.read()
                rec["engine"] = {k: after[k] - before[k] for k in ENGINE_KEYS}
                # SQL execution ids are consecutive: these ran inside the span
                rec["exec_ids"] = [int(before["last_execution"]) + 1, int(after["last_execution"])]

    def dump(self, path: str, labels: dict) -> None:
        with open(path, "w") as f:
            json.dump({"labels": labels, "spans": self.spans}, f, indent=1)


def duration(rec: dict) -> float:
    return rec["end"] - rec["start"]

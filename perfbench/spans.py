"""Tracing for the traced run: in-memory spans, Spark job counters read
from the status stores, and process memory.

Everything here wraps calls into the engine from outside; nothing in
``flink_anomaly_spark`` knows it is being traced.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time

import numpy as np
from py4j.protocol import Py4JJavaError


def p50(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def pct(values, q: float) -> float:
    """Linearly interpolated percentile (numpy's default), 0 when empty."""
    return float(np.percentile(list(values), q)) if values else 0.0


class Tracer:
    """Spans kept in memory and written out once, when the run ends.

    A span records its name, start, end, parent and the id shared by
    every span of one query or drain (``trace_id``). Times are
    ``time.perf_counter()`` seconds."""

    def __init__(self) -> None:
        self.spans: list[dict] = []

    def open(self, name: str, trace_id: str, parent: int | None = None,
             start: float | None = None, **attrs) -> int:
        span_id = len(self.spans)
        self.spans.append({"name": name, "trace_id": trace_id, "span_id": span_id,
                           "parent_id": parent, "start": start or time.perf_counter(),
                           "end": None, "attrs": attrs})
        return span_id

    def close(self, span_id: int, end: float | None = None) -> None:
        self.spans[span_id]["end"] = end or time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, trace_id: str, parent: int | None = None, **attrs):
        span_id = self.open(name, trace_id, parent, **attrs)
        try:
            yield span_id
        finally:
            self.close(span_id)

    def self_times(self) -> list[dict]:
        """Each span with its self time: its duration minus the time its
        children cover (children of one span never overlap here)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent_id"] is not None:
                child[s["parent_id"]] += s["end"] - s["start"]
        return [dict(s, self_s=(s["end"] - s["start"]) - child[s["span_id"]])
                for s in self.spans]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.self_times(), f)


# v1.StageData getters summed over the stages a job group ran
_STAGE_SUMS = {
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": "diskBytesSpilled",
    "input_bytes": "inputBytes",
    "tasks": "numTasks",
}


class SparkCounters:
    """Jobs, stages, tasks and executor/shuffle counters of named job
    groups, read from ``statusTracker()`` and the JVM ``statusStore()``
    after the work finished (the UI is off; the store still fills)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()

    def read(self, groups) -> dict:
        out = dict.fromkeys(_STAGE_SUMS, 0)
        out.update(jobs=0, stages=0, peak_execution_memory_bytes=0)
        seen: set[int] = set()
        for group in groups:
            for job_id in self.tracker.getJobIdsForGroup(group):
                out["jobs"] += 1
                info = self.tracker.getJobInfo(job_id)
                for stage_id in info.stageIds if info else ():
                    if stage_id in seen:
                        continue
                    seen.add(stage_id)
                    try:
                        sd = self.store.lastStageAttempt(stage_id)
                    except Py4JJavaError:
                        continue  # evicted from the store
                    if sd.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    for key, getter in _STAGE_SUMS.items():
                        out[key] += getattr(sd, getter)()
                    out["peak_execution_memory_bytes"] = max(
                        out["peak_execution_memory_bytes"], sd.peakExecutionMemory())
        return out


def spark_layer_metrics(counters: list[dict]) -> dict:
    """The ``spark.*`` per-layer metrics: the median over units (passes
    or drains) of each unit's summed counters."""
    def med(key, scale=1.0):
        return p50([c[key] * scale for c in counters])

    run_s = med("executor_run_ms", 1e-3)
    cpu_s = med("executor_cpu_ns", 1e-9)
    return {
        "spark.jobs": med("jobs"),
        "spark.stages": med("stages"),
        "spark.tasks": med("tasks"),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": cpu_s,
        "spark.cpu_share": cpu_s / run_s if run_s else 0.0,
        "spark.shuffle_read_mb": med("shuffle_read_bytes", 1e-6),
        "spark.shuffle_write_mb": med("shuffle_write_bytes", 1e-6),
        "spark.spill_mb": med("spill_bytes", 1e-6),
        "spark.input_mb": med("input_bytes", 1e-6),
        "spark.peak_execution_memory_mb": max(
            (c["peak_execution_memory_bytes"] for c in counters), default=0) * 1e-6,
    }


def add_counters(a: dict, b: dict) -> dict:
    out = {k: a.get(k, 0) + v for k, v in b.items()}
    out["peak_execution_memory_bytes"] = max(
        a.get("peak_execution_memory_bytes", 0), b["peak_execution_memory_bytes"])
    return out


def peak_rss_mb(pid: int | str = "self") -> float:
    """VmHWM (peak resident set) of a process, from /proc; 0 when the
    process or /proc is not there."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0

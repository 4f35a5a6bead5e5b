"""Spans recorded around each engine call, and Spark's event log folded
onto them.

A span is (name, start, end, parent). Spans live in memory and are folded
when the run ends. When the run is traced, every span also becomes a Spark
job group, so each job, its stages and their task metrics in the event log
can be charged to the span that submitted them.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time

# Spark stage accumulables summed per span: metric suffix -> (accumulable
# name, scale to the reported unit).
STAGE_METRICS = {
    "executor_cpu_s": ("internal.metrics.executorCpuTime", 1e-9),
    "jvm_gc_s": ("internal.metrics.jvmGCTime", 1e-3),
    "shuffle_write_bytes": ("internal.metrics.shuffle.write.bytesWritten", 1),
    "fetch_wait_s": ("internal.metrics.shuffle.read.fetchWaitTime", 1e-3),
    "spill_bytes": ("internal.metrics.diskBytesSpilled", 1),
    "python_worker_s": ("time to run Python workers", 1e-3),
}
COUNT_METRICS = ("jobs", "tasks", *STAGE_METRICS)


class Tracer:
    """Nested spans in one thread. With ``spark`` set, each span tags the
    jobs it submits with its own job group."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.spark = None

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._tag(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._tag(parent)

    def _tag(self, span_id: int | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if span_id is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(str(span_id), self.spans[span_id]["name"])

    def self_times(self) -> dict[int, float]:
        """Each span's duration minus the time its (sequential) children
        cover."""
        own = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own


def fold_event_log(log_dir: str) -> dict[int, dict[str, float]]:
    """Per span id: jobs, tasks and the STAGE_METRICS sums of every job
    whose group is that span. Reads the uncompressed event log(s) Spark
    wrote under ``log_dir``."""
    job_group: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    out: dict[int, dict[str, float]] = {}
    files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None or not group.isdigit():
                        continue
                    sid = int(group)
                    job_group[ev["Job ID"]] = sid
                    for st in ev["Stage IDs"]:
                        stage_job.setdefault(st, ev["Job ID"])
                    acc = out.setdefault(sid, dict.fromkeys(COUNT_METRICS, 0.0))
                    acc["jobs"] += 1
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    job = stage_job.get(info["Stage ID"])
                    if job is None:
                        continue
                    acc = out[job_group[job]]
                    acc["tasks"] += info["Number of Tasks"]
                    values = {a["Name"]: a.get("Value") for a in info.get("Accumulables", [])}
                    for key, (name, scale) in STAGE_METRICS.items():
                        v = values.get(name)
                        if isinstance(v, (int, float)) or (isinstance(v, str) and v.isdigit()):
                            acc[key] += float(v) * scale
    return out


def per_layer(tracer: Tracer, counts: dict[int, dict[str, float]], pass_name: str, cold_name: str) -> dict:
    """Per span name: the median over its instances of the span's duration
    (``<name>_s``) and of each event-log count (``<name>.<count>``). Layer
    spans run once per pass, so the median is over passes; spans inside the
    cold pass are left out. The pass span's own self time is the remainder
    no layer span covers."""
    own = tracer.self_times()
    cold: set[int] = set()
    by_name: dict[str, list[dict]] = {}
    for s in tracer.spans:  # a parent always precedes its children
        if s["parent"] in cold:
            cold.add(s["id"])
            continue
        if s["name"] == cold_name:
            cold.add(s["id"])
        by_name.setdefault(s["name"], []).append(s)
    out: dict[str, float] = {}
    for name, spans in by_name.items():
        if name == pass_name:
            out["trace.wall_s"] = statistics.median(s["end"] - s["start"] for s in spans)
            out["trace.remainder_s"] = statistics.median(own[s["id"]] for s in spans)
            continue
        out[f"{name}_s"] = statistics.median(s["end"] - s["start"] for s in spans)
        if any(s["id"] in counts for s in spans):
            for key in COUNT_METRICS:
                out[f"{name}.{key}"] = statistics.median(
                    counts.get(s["id"], {}).get(key, 0.0) for s in spans
                )
    return out

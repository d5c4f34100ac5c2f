"""Spans around the benchmark's calls into each layer, and the Spark
engine counters attributed to them.

A span records name, layer, start, end and parent. While tracing, the
span id is set as the Spark job group, so every job a span's calls
submit carries it in the event log; jobs submitted from another thread
(streaming micro-batches set their own group) fall back to the deepest
span open when the job started. After the run the plain JSON-lines event
log is parsed and each job's tasks are summed into its span.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# Engine counters every layer reports (the L.<name> metrics).
ENGINE_COUNTERS = (
    "jobs",
    "tasks",
    "driver_self_s",
    "executor_cpu_s",
    "task_wait_s",
    "gc_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "output_bytes",
)

# Layers measured, named after the package modules they call into.
LAYERS = (
    "session",
    "tables",
    "plans",
    "pipelines",
    "dedup",
    "similarity",
    "upsert",
    "streaming",
)


@dataclass
class Span:
    id: str
    name: str
    layer: str
    start: float
    parent: str | None
    end: float = 0.0
    children: list = field(default_factory=list)


class Tracer:
    """Span recorder. With ``enabled=False`` it records nothing and
    touches no Spark state, so the untraced run pays nothing for it."""

    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: dict[str, Span] = {}
        self._stack: list[Span] = []
        self._next = 0

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        s = Span(f"bench-span-{self._next}", name, layer, time.time(),
                 parent.id if parent else None)
        self.spans[s.id] = s
        if parent:
            parent.children.append(s.id)
        self._stack.append(s)
        sc = self.spark.sparkContext
        sc.setJobGroup(s.id, name)
        try:
            yield
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent:
                sc.setJobGroup(parent.id, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def parse_event_log(path: str) -> dict[int, dict]:
    """Per job: group, submit/complete time (s) and summed task metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_submit: dict[int, float] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": ev["Submission Time"] / 1000.0,
                    **{k: 0.0 for k in ENGINE_COUNTERS if k not in ("jobs", "driver_self_s")},
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                if info.get("Submission Time"):
                    stage_submit[info["Stage ID"]] = info["Submission Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"]))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                info = ev["Task Info"]
                job["tasks"] += 1
                job["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                job["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                launch = info["Launch Time"] / 1000.0
                submit = stage_submit.get(ev["Stage ID"], launch)
                job["task_wait_s"] += max(0.0, launch - submit)
                job["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                job["spill_bytes"] += m.get("Disk Bytes Spilled", 0) + m.get(
                    "Memory Bytes Spilled", 0
                )
                job["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                job["input_rows"] = job.get("input_rows", 0) + m.get(
                    "Input Metrics", {}
                ).get("Records Read", 0)
                job["output_bytes"] += m.get("Output Metrics", {}).get(
                    "Bytes Written", 0
                )
    return jobs


def attribute(tracer: Tracer, jobs: dict[int, dict]) -> dict[str, dict]:
    """Engine counters per layer: each job goes to the span named by its
    group, else to the deepest span whose interval holds its start.
    ``driver_self_s`` is each span's duration minus the union of its own
    jobs' and its child spans' intervals."""
    spans = tracer.spans
    by_span: dict[str, list[dict]] = defaultdict(list)
    ordered = sorted(spans.values(), key=lambda s: s.start)
    for job in jobs.values():
        owner = spans.get(job["group"])
        if owner is None:
            holders = [s for s in ordered if s.start <= job["start"] <= s.end]
            # deepest = the latest-starting span still open at that time
            owner = holders[-1] if holders else None
        if owner is not None:
            by_span[owner.id].append(job)
    out = {layer: {k: 0.0 for k in ENGINE_COUNTERS} | {"input_rows": 0.0}
           for layer in LAYERS}
    for s in spans.values():
        acc = out[s.layer]
        own = by_span.get(s.id, [])
        busy = [(max(j["start"], s.start), min(j["end"], s.end)) for j in own]
        busy += [(spans[c].start, spans[c].end) for c in s.children]
        busy = [(lo, hi) for lo, hi in busy if hi > lo]
        acc["driver_self_s"] += (s.end - s.start) - _union_len(busy)
        acc["jobs"] += len(own)
        for job in own:
            for k in ENGINE_COUNTERS:
                if k not in ("jobs", "driver_self_s"):
                    acc[k] += job[k]
            acc["input_rows"] += job.get("input_rows", 0)
    return out

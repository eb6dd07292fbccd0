"""Spans around the engine's public functions, joined with Spark's event log.

A traced run replaces a fixed list of the engine's public functions with
wrappers that record one span per call (name, start, end) in memory; nothing
inside ``hdata_spark`` changes.  Parentage is set by time, not by thread:
``foreachBatch`` runs ``apply_change_batch`` on a Py4J callback thread while
the caller's thread waits inside ``stream_replay``, so a thread-local stack
would orphan every batch.  A span's parent is the innermost span whose
interval contains it.

Spark jobs come from the event log (``spark.eventLog.enabled``, uncompressed)
and are assigned to the innermost span open at their submission time; each
job carries the summed task metrics of its stages.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    children: list = field(default_factory=list)
    jobs: list = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()

    def child_dur(self, name: str) -> float:
        return sum(c.dur for c in self.walk() if c is not self and c.name == name)


@dataclass
class Job:
    job_id: int
    submit: float
    end: float
    stages: list
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_b: int = 0
    spill_b: int = 0
    input_b: int = 0
    input_rows: int = 0
    output_b: int = 0
    output_rows: int = 0


class Tracer:
    """In-memory span recorder.  A disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(name, time.time(), attrs=attrs)
        try:
            yield s
        finally:
            s.end = time.time()
            with self._lock:
                self.spans.append(s)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Record a span around every call of ``owner.attr``."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def tree(self) -> list[Span]:
        """Nest spans by time; returns the roots."""
        roots: list[Span] = []
        stack: list[Span] = []
        for s in sorted(self.spans, key=lambda s: (s.start, -s.end)):
            s.children = []
            while stack and stack[-1].end < s.end:
                stack.pop()
            (stack[-1].children if stack else roots).append(s)
            stack.append(s)
        return roots


def instrument(tracer: Tracer) -> None:
    """Wrap the engine functions whose cost the per-layer metrics report."""
    import importlib

    from hdata_spark.plans.schema_registry import SchemaRegistry
    from hdata_spark.sinks.snapshot import SnapshotTable
    from hdata_spark.streaming.ledger import CommitLedger
    from hdata_spark.streaming.metrics import MetricsLog

    tracer.wrap(SnapshotTable, "overwrite", "sink.overwrite")
    tracer.wrap(SnapshotTable, "compact", "sink.compact")
    tracer.wrap(SnapshotTable, "register_deltas", "sink.register_deltas")
    tracer.wrap(SnapshotTable, "evolve_schema", "sink.evolve_schema")
    tracer.wrap(CommitLedger, "commit", "ledger.commit")
    tracer.wrap(MetricsLog, "append", "metrics.append")
    tracer.wrap(SchemaRegistry, "apply_change", "registry.apply_change")
    # stream_replay calls these through its module globals (the package
    # re-exports a function of the same name, hence import_module).
    sr = importlib.import_module("hdata_spark.streaming.stream_replay")
    tracer.wrap(sr, "apply_change_batch", "stream.apply")
    tracer.wrap(sr, "delta_footer_stats", "sink.footer_stats")


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
    }


def read_jobs(log_dir: str) -> list[Job]:
    """Jobs with summed task metrics, from a (possibly rolling) event log."""
    files = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and "appstatus" not in os.path.basename(p)
    )
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    j = Job(ev["Job ID"], ev["Submission Time"] / 1000.0, 0.0, ev["Stage IDs"])
                    jobs[j.job_id] = j
                    for sid in j.stages:
                        stage_job.setdefault(sid, j.job_id)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    m = ev.get("Task Metrics")
                    if j is None or not m:
                        continue
                    j.cpu_s += m["Executor CPU Time"] / 1e9
                    j.gc_s += m["JVM GC Time"] / 1e3
                    j.spill_b += m["Disk Bytes Spilled"]
                    j.shuffle_write_b += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    j.input_b += m["Input Metrics"]["Bytes Read"]
                    j.input_rows += m["Input Metrics"]["Records Read"]
                    j.output_b += m["Output Metrics"]["Bytes Written"]
                    j.output_rows += m["Output Metrics"]["Records Written"]
    return sorted(jobs.values(), key=lambda j: j.submit)


def assign_jobs(roots: list[Span], jobs: list[Job]) -> list[Job]:
    """Attach each job to the innermost span open at its submission time;
    returns the jobs no span covers."""
    loose = []
    for j in jobs:
        here, level = None, roots
        while True:
            inside = [s for s in level if s.start <= j.submit <= s.end]
            if not inside:
                break
            here = inside[-1]
            level = here.children
        (here.jobs if here else loose).append(j)
    return loose


def union_len(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(s: Span) -> float:
    return s.dur - union_len(
        (max(c.start, s.start), min(c.end, s.end)) for c in s.children
    )


def p50(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def span_table(roots: list[Span]) -> list[dict]:
    """Per span name: calls, total and self seconds, jobs, task CPU."""
    by: dict[str, dict] = {}
    for r in roots:
        for s in r.walk():
            row = by.setdefault(
                s.name, {"span": s.name, "calls": 0, "total_s": 0.0, "self_s": 0.0,
                         "jobs": 0, "task_cpu_s": 0.0}
            )
            row["calls"] += 1
            row["total_s"] += s.dur
            row["self_s"] += self_time(s)
            row["jobs"] += len(s.jobs)
            row["task_cpu_s"] += sum(j.cpu_s for j in s.jobs)
    return sorted(by.values(), key=lambda r: -r["total_s"])

"""Spans recorded around the calls the benchmark makes into each layer,
and the Spark event-log fold that turns task metrics into per-span
figures.

Every span carries a layer name (``session``, ``registry``,
``substrate``, ``operators``, ``spark``, ``pipeline``, ``streaming``,
or ``harness`` for the benchmark's own loop). Spans always record
their duration: the untraced run takes its timings from them too, so
both runs time the same code. Only a traced run tags each span's jobs
with ``sc.setJobGroup`` and has the session write an event log.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: str
    name: str
    layer: str
    parent: Span | None
    t0: float  # wall clock (epoch seconds), aligns with event-log ms
    t1: float = 0.0
    children: list[Span] = field(default_factory=list)
    spark: dict[str, float] = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    @property
    def self_time(self) -> float:
        return self.dur - sum(c.dur for c in self.children)


class Tracer:
    """Records nested spans in memory. With ``tag_jobs`` each span is
    also the Spark job group of every job launched inside it."""

    def __init__(self, tag_jobs: bool) -> None:
        self.tag_jobs = tag_jobs
        self.sc = None  # set once the session exists
        self.roots: list[Span] = []
        self.bookkeeping_s = 0.0  # time spent tagging jobs
        self._stack: list[Span] = []
        self._n = 0

    def _set_group(self, span: Span | None) -> None:
        if not (self.tag_jobs and self.sc is not None):
            return
        t = time.perf_counter()
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(span.sid, span.name)
        self.bookkeeping_s += time.perf_counter() - t

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        self._n += 1
        s = Span(f"pb{self._n}", name, layer, parent, time.time())
        (parent.children if parent else self.roots).append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()
            self._set_group(parent)

    def walk(self, spans: list[Span] | None = None):
        for s in self.roots if spans is None else spans:
            yield s
            yield from self.walk(s.children)


# --------------------------------------------------------------------------
# Event-log fold
# --------------------------------------------------------------------------

_MB = 1024.0 * 1024.0


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the (single) application logged under ``log_dir``;
    read after ``spark.stop()`` so the log is complete."""
    events: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def fold_events(tracer: Tracer, events: list[dict]) -> None:
    """Attribute every job to a span (by job group when the job carries
    one of ours, otherwise to the innermost span open at its submission
    time, which catches streaming micro-batch jobs that run under their
    query's own group) and sum its tasks' metrics into ``span.spark``."""
    spans = list(tracer.walk())
    by_id = {s.sid: s for s in spans}

    def innermost(t: float) -> Span | None:
        best = None
        for s in spans:
            if s.t0 <= t <= s.t1 and (best is None or s.t0 >= best.t0):
                best = s
        return best

    stage_span: dict[int, Span] = {}
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            span = by_id.get(group) or innermost(ev["Submission Time"] / 1e3)
            if span is None:
                continue
            span.spark["jobs"] = span.spark.get("jobs", 0) + 1
            for sid in ev.get("Stage IDs", []):
                stage_span[sid] = span
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            # Catalyst has analysed, optimised and planned the query by
            # the time this event is posted; the first one inside a span
            # marks the end of that span's planning.
            span = innermost(ev["time"] / 1e3)
            if span is not None and "first_sql_start" not in span.spark:
                span.spark["first_sql_start"] = ev["time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            span = stage_span.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if span is None or not m:
                continue
            f = span.spark
            stages = f.setdefault("_stages", set())
            stages.add(ev["Stage ID"])
            rd = m.get("Shuffle Read Metrics", {})
            wr = m.get("Shuffle Write Metrics", {})
            for key, val in (
                ("tasks", 1),
                ("task_run_s", m.get("Executor Run Time", 0) / 1e3),
                ("task_cpu_s", m.get("Executor CPU Time", 0) / 1e9),
                ("gc_s", m.get("JVM GC Time", 0) / 1e3),
                ("shuffle_read_mb", (rd.get("Remote Bytes Read", 0)
                                     + rd.get("Local Bytes Read", 0)) / _MB),
                ("shuffle_write_mb", wr.get("Shuffle Bytes Written", 0) / _MB),
                ("spill_mb", (m.get("Memory Bytes Spilled", 0)
                              + m.get("Disk Bytes Spilled", 0)) / _MB),
            ):
                f[key] = f.get(key, 0) + val
    for s in spans:
        stages = s.spark.pop("_stages", None)
        s.spark["stages"] = len(stages) if stages else 0
        first = s.spark.pop("first_sql_start", None)
        s.spark["plan_s"] = (first - s.t0) if first is not None else 0.0


def layer_self_times(spans) -> dict[str, float]:
    """Self time per layer over ``spans`` and all their descendants."""
    out: dict[str, float] = {}
    stack = list(spans)
    while stack:
        s = stack.pop()
        out[s.layer] = out.get(s.layer, 0.0) + s.self_time
        stack.extend(s.children)
    return out


def spark_totals(spans, cores: int) -> dict[str, float]:
    """Sum the folded Spark figures over ``spans`` (not descendants: the
    fold attributes each job to exactly one span) and derive scheduling
    overhead as wall x cores - task run time."""
    keys = ("jobs", "stages", "tasks", "plan_s", "task_run_s", "task_cpu_s",
            "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb")
    out = dict.fromkeys(keys, 0.0)
    wall = 0.0
    for s in spans:
        wall += s.dur
        for k in keys:
            out[k] += s.spark.get(k, 0)
    out["sched_overhead_s"] = wall * cores - out["task_run_s"]
    return out

"""Tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded in the benchmark's own files, around each call into
a layer's public functions; nothing inside the package is instrumented.
Spark's structural counts come from the event log, folded per
operation the way ``scripts/profile_r10.py`` folds it per query. The
benchmark is one closed-loop caller, so a Spark job belongs to the
operation whose time window contains its submission; that also catches
jobs that Structured Streaming submits from its own threads.
"""

from __future__ import annotations

import bisect
import contextlib
import glob
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: str | None


@dataclass
class Tracer:
    """Collects spans and operation windows in memory (wall-clock epoch
    seconds, to line up with event-log times). A disabled tracer
    records nothing."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    ops: dict[str, tuple[float, float]] = field(default_factory=dict)
    _stack: list[int] = field(default_factory=list)
    _op: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0, self._stack[-1] if self._stack else None, self._op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    @contextlib.contextmanager
    def operation(self, op_id: str):
        """One timed operation (a query run, an IVM step, a stream
        drain): spans opened inside it carry ``op_id``."""
        if not self.enabled:
            yield
            return
        self._op = op_id
        t0 = time.time()
        try:
            yield
        finally:
            self.ops[op_id] = (t0, time.time())
            self._op = None

    def durations(self, name: str, op_ids=None) -> list[float]:
        """Durations of the spans called ``name``, those inside the
        operations ``op_ids`` only if given."""
        return [s.end - s.start for s in self.spans if s.name == name and (op_ids is None or s.op_id in op_ids)]

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part its direct
        children cover (children of one span never overlap: every call
        is made from one thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[i]
        return out


def event_log_submit_args(event_dir: str) -> str:
    """``PYSPARK_SUBMIT_ARGS`` that turn the event log on; they must be
    set before the JVM starts."""
    return (
        "--conf spark.eventLog.enabled=true "
        "--conf spark.eventLog.compress=false "
        "--conf spark.eventLog.rolling.enabled=false "
        f"--conf spark.eventLog.dir=file://{event_dir} pyspark-shell"
    )


# Spark counts folded per operation, with their units.
SPARK_COUNTS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "tasks_failed": "count",
    "shuffle_read_bytes": "bytes",
    "shuffle_write_bytes": "bytes",
    "executor_cpu_s": "s",
    "executor_run_s": "s",
}


def _event_lines(event_dir: str):
    for path in sorted(glob.glob(os.path.join(event_dir, "*"))):
        files = sorted(glob.glob(os.path.join(path, "events_*"))) if os.path.isdir(path) else [path]
        for f in files:
            with open(f) as fh:
                yield from fh


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def fold_event_log(event_dir: str, ops: dict[str, tuple[float, float]]) -> dict[str, dict[str, float]]:
    """Per operation id: the ``SPARK_COUNTS`` of the jobs submitted in
    its window, plus ``job_s``, the part of the window those jobs cover
    (overlapping jobs count once)."""
    windows = sorted((s, e, op) for op, (s, e) in ops.items())
    starts = [w[0] for w in windows]

    def owner(t: float) -> str | None:
        i = bisect.bisect_right(starts, t) - 1
        return windows[i][2] if i >= 0 and t <= windows[i][1] else None

    agg = {op: dict.fromkeys(SPARK_COUNTS, 0.0) for op in ops}
    job_op: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_op: dict[int, str] = {}
    intervals: dict[str, list[tuple[float, float]]] = {op: [] for op in ops}
    for line in _event_lines(event_dir):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            t = ev["Submission Time"] / 1000.0
            op = owner(t)
            if op is None:
                continue
            job_op[ev["Job ID"]] = op
            job_start[ev["Job ID"]] = t
            agg[op]["jobs"] += 1
            for st in ev.get("Stage Infos", []):
                stage_op[st["Stage ID"]] = op
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_op:
                intervals[job_op[jid]].append((job_start[jid], ev["Completion Time"] / 1000.0))
        elif kind == "SparkListenerStageCompleted":
            op = stage_op.get(ev["Stage Info"]["Stage ID"])
            if op is not None:
                agg[op]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            op = stage_op.get(ev["Stage ID"])
            if op is None:
                continue
            b = agg[op]
            b["tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                b["tasks_failed"] += 1
            m = ev.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics") or {}
            b["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            b["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            b["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            b["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
    for op, ivs in intervals.items():
        agg[op]["job_s"] = _covered(ivs)
    return agg

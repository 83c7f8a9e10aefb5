"""Spans around public library calls, joined to the Spark event log.

A traced run labels every Spark job with the id of the innermost open
span (``SparkContext.setJobGroup``), enables the event log, and after
the session stops joins the log's jobs, stages and task metrics back to
the spans. Nothing inside the library is touched: the spans are opened
by the benchmark around each call it makes.

All times in the event log are epoch milliseconds from the driver JVM;
spans use ``time.time()`` in the same process, so both share one clock.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start_ms: float
    end_ms: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall_ms(self) -> float:
        return self.end_ms - self.start_ms


class Tracer:
    """Records spans in memory. With a SparkContext it also sets the
    innermost span's id as the Spark job group, so the event log can be
    joined back; without one it only times (the untraced runs)."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"s{len(self.spans)}", name, parent.id if parent else None,
                  time.time() * 1000.0, attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end_ms = time.time() * 1000.0
            self._stack.pop()
            self._set_group(parent)

    def _set_group(self, sp: Span | None) -> None:
        if self.sc is None:
            return
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(sp.id, sp.name)


# ---------------------------------------------------------------- event log


@dataclass
class StageAgg:
    submit_ms: float | None = None
    complete_ms: float | None = None
    tasks: int = 0
    failed_tasks: int = 0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    py_sent_bytes: int = 0
    py_returned_bytes: int = 0

    @property
    def kind(self) -> str:
        """``map`` writes shuffle, ``reduce`` only reads it, ``scan``
        does neither (counting, placement and file scans)."""
        if self.shuffle_write_bytes > 0:
            return "map"
        if self.shuffle_read_bytes > 0:
            return "reduce"
        return "scan"


@dataclass
class JobRec:
    group: str | None
    submit_ms: float
    complete_ms: float | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, JobRec] = field(default_factory=dict)
    stages: dict[int, StageAgg] = field(default_factory=dict)

    @property
    def failed_tasks(self) -> int:
        return sum(s.failed_tasks for s in self.stages.values())


def parse_event_log(lines) -> EventLog:
    """Fold the JSON-lines event log into per-job and per-stage records."""
    log = EventLog()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            log.jobs[ev["Job ID"]] = JobRec(
                group=props.get("spark.jobGroup.id"),
                submit_ms=float(ev["Submission Time"]),
                stage_ids=list(ev.get("Stage IDs") or []),
            )
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.complete_ms = float(ev["Completion Time"])
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = log.stages.setdefault(info["Stage ID"], StageAgg())
            if info.get("Submission Time") is not None:
                st.submit_ms = float(info["Submission Time"])
            if info.get("Completion Time") is not None:
                st.complete_ms = float(info["Completion Time"])
        elif kind == "SparkListenerTaskEnd":
            st = log.stages.setdefault(ev["Stage ID"], StageAgg())
            _add_task(st, ev)
    return log


def _add_task(st: StageAgg, ev: dict) -> None:
    st.tasks += 1
    reason = (ev.get("Task End Reason") or {}).get("Reason")
    if reason != "Success":
        st.failed_tasks += 1
    m = ev.get("Task Metrics") or {}
    st.cpu_ns += m.get("Executor CPU Time", 0)
    st.gc_ms += m.get("JVM GC Time", 0)
    st.spill_bytes += m.get("Disk Bytes Spilled", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    st.shuffle_read_bytes += (sr.get("Remote Bytes Read", 0)
                              + sr.get("Local Bytes Read", 0))
    for acc in (ev.get("Task Info") or {}).get("Accumulables") or []:
        name = acc.get("Name")
        if name == PY_SENT:
            st.py_sent_bytes += int(acc.get("Update") or 0)
        elif name == PY_RETURNED:
            st.py_returned_bytes += int(acc.get("Update") or 0)


def read_event_log(log_dir: str) -> EventLog:
    """Parse every event-log file under ``log_dir`` (one per app)."""
    paths = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs
        if not f.startswith(".") and not f.endswith(".crc")
    )
    lines: list[str] = []
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            lines.extend(fh)
    return parse_event_log(lines)


# ------------------------------------------------------- self-time arithmetic


def union_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if b is not None and a is not None)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def subtree_ids(spans: list[Span], root: Span) -> set[str]:
    children: dict[str, list[str]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s.id)
    out, todo = set(), [root.id]
    while todo:
        sid = todo.pop()
        out.add(sid)
        todo.extend(children.get(sid, ()))
    return out


def span_stats(span: Span, spans: list[Span], log: EventLog) -> dict:
    """Join one span (and its child spans) to the jobs labelled with
    their ids. ``driver_ms`` is the span's wall minus the union of its
    job intervals: planning, metadata IO and commits on the driver."""
    ids = subtree_ids(spans, span)
    jobs = [j for j in log.jobs.values() if j.group in ids]
    lo, hi = span.start_ms, span.end_ms
    out = {
        "wall_ms": span.wall_ms,
        "jobs": len(jobs),
        "driver_ms": span.wall_ms - union_ms(
            [(j.submit_ms, j.complete_ms) for j in jobs], lo, hi),
        "tasks": 0, "failed_tasks": 0, "cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_write_bytes": 0, "spill_bytes": 0,
        "py_sent_bytes": 0, "py_returned_bytes": 0,
    }
    by_kind: dict[str, list] = {"scan": [], "map": [], "reduce": []}
    seen: set[int] = set()
    for j in jobs:
        for sid in j.stage_ids:
            st = log.stages.get(sid)
            if st is None or sid in seen or st.submit_ms is None:
                continue  # skipped stage: its output was reused
            seen.add(sid)
            by_kind[st.kind].append((st.submit_ms, st.complete_ms))
            out["tasks"] += st.tasks
            out["failed_tasks"] += st.failed_tasks
            out["cpu_s"] += st.cpu_ns / 1e9
            out["gc_s"] += st.gc_ms / 1e3
            out["shuffle_write_bytes"] += st.shuffle_write_bytes
            out["spill_bytes"] += st.spill_bytes
            out["py_sent_bytes"] += st.py_sent_bytes
            out["py_returned_bytes"] += st.py_returned_bytes
    for kind, iv in by_kind.items():
        out[f"{kind}_stage_ms"] = union_ms(iv, lo, hi)
    return out

"""Spans recorded around the engine's public entry points, plus Spark task
metrics joined to them from Spark's event log.

A span has a name (``<layer>.<call>``), start and end, a parent, and the id
of the operation it belongs to; the root span of an operation covers the
operation's wall time. Spans stay in memory until the run ends.

Every span also becomes the Spark job group of the thread while it is
open, so each Spark job in the event log names the innermost span that
started it. Task metrics (run time, shuffle bytes, output records, failed
or retried attempts) are summed per span after the session stops and the
event log is complete.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict

GROUP_PREFIX = "pb-"


class Span:
    __slots__ = ("id", "name", "parent", "op", "t0", "t1", "attrs")

    def __init__(self, sid, name, parent, op, t0):
        self.id, self.name, self.parent, self.op, self.t0 = sid, name, parent, op, t0
        self.t1 = None
        self.attrs: dict = {}

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing and
    touches no Spark state, so untraced runs pay only a context-manager
    enter and exit per call."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_op = 0

    @contextlib.contextmanager
    def span(self, name: str, new_op: bool = False):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if new_op or parent is None:
            self._next_op += 1
            op = self._next_op
        else:
            op = parent.op
        s = Span(len(self.spans), name, parent.id if parent else None, op, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(f"{GROUP_PREFIX}{s.id}", name, interruptOnCancel=False)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id",
                f"{GROUP_PREFIX}{parent.id}" if parent else None,
            )

    def op(self, name: str):
        """Root span of one operation: its children share its op id."""
        return self.span(name, new_op=True)

    # -- analysis ---------------------------------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.t1 is not None]

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                out[s.parent].append(s)
        return out

    def self_time(self, span: Span, kids: dict[int, list[Span]]) -> float:
        """Span duration minus the part of it its children cover (children
        of one span run sequentially from one thread, so they never
        overlap each other)."""
        return span.dur - sum(c.dur for c in kids.get(span.id, []))

    def subtree(self, span: Span, kids: dict[int, list[Span]]) -> list[int]:
        ids, todo = [], [span.id]
        while todo:
            sid = todo.pop()
            ids.append(sid)
            todo.extend(c.id for c in kids.get(sid, []))
        return ids


class SparkTaskLog:
    """Per-span Spark job and task metrics read from an event log."""

    def __init__(self, event_dir: str):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        # per span id: summed task metrics and job count/wall
        self.by_span: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        self.total: dict = defaultdict(float)
        files = sorted(glob.glob(os.path.join(event_dir, "*")))
        for path in files:
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))
        for job in self.jobs.values():
            sid = job.get("span")
            if sid is None or "end" not in job:
                continue
            acc = self.by_span[sid]
            acc["jobs"] += 1
            acc["job_s"] += (job["end"] - job["start"]) / 1000.0

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            span = int(group[len(GROUP_PREFIX):]) if group.startswith(GROUP_PREFIX) else None
            jid = ev["Job ID"]
            self.jobs[jid] = {"start": ev["Submission Time"], "span": span}
            for st in ev.get("Stage IDs", []):
                self.stage_job[st] = jid
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(ev["Job ID"])
            if job is not None:
                job["end"] = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            row = {
                "task_run_s": m.get("Executor Run Time", 0) / 1000.0,
                "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                ),
                "output_records": (m.get("Output Metrics") or {}).get(
                    "Records Written", 0
                ),
                # a failed or killed attempt, or any attempt after the
                # first, is work the scheduler had to redo
                "task_failures": float(
                    reason != "Success"
                    or bool(info.get("Failed"))
                    or bool(info.get("Killed"))
                    or info.get("Attempt", 0) > 0
                ),
            }
            jid = self.stage_job.get(ev.get("Stage ID"))
            sid = self.jobs.get(jid, {}).get("span") if jid is not None else None
            for k, v in row.items():
                self.total[k] += v
                if sid is not None:
                    self.by_span[sid][k] += v

    def sum(self, span_ids: list[int], key: str) -> float:
        return float(sum(self.by_span[s][key] for s in span_ids if s in self.by_span))

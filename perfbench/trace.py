"""Spans around calls into the program's layers, and the fold of
Spark's event log into per-layer counts.

Spans live in memory (name, start, end, parent, op id) and are written
out once when the run ends. Each span also tags the Spark jobs it
launches with a job group ``bench|<op id>|<op kind>|<span name>``; the
event log, enabled for traced runs only, then attributes every task's
metrics to the innermost span that launched it.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int | None
    op_kind: str | None


class Tracer:
    """Span recorder. A disabled tracer makes :meth:`span` a no-op so
    untraced runs share the workload code unchanged."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._next = 0
        self.op_id: int | None = None
        self.op_kind: str | None = None

    @contextmanager
    def op(self, op_id: int, kind: str, jobs: bool = True):
        """The root span of one closed-loop operation."""
        self.op_id, self.op_kind = op_id, kind
        try:
            with self.span(f"op.{kind}", jobs):
                yield
        finally:
            self.op_id = self.op_kind = None

    @contextmanager
    def span(self, name: str, jobs: bool = True):
        """``jobs=False`` marks a span that launches no Spark job (an
        in-process probe): it skips the job-group round trips to the
        JVM, which would cost more than the call being measured."""
        if not self.enabled:
            yield
            return
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        if jobs:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(f"bench|{self.op_id}|{self.op_kind}|{name}", name)
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            if jobs:
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self.spans.append(Span(sid, name, start, end, parent, self.op_id, self.op_kind))

    def wrap(self, owner, attr: str, name, on_result=None):
        """Replace ``owner.attr`` with a spanned call. ``name`` is a
        string or a function of the call's arguments (to tag a span,
        e.g. by table). ``on_result`` runs inside the span on the
        return value and may replace it."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label):
                out = orig(*args, **kwargs)
                return on_result(out) if on_result else out

        setattr(owner, attr, spanned)

    def durations(self, name: str, kind: str | None = None) -> list[float]:
        return [s.end - s.start for s in self.spans
                if s.name == name and (kind is None or s.op_kind == kind)]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


@dataclass
class GroupStats:
    jobs: int = 0
    task_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    records_written: int = 0


def fold_event_log(log_dir: str) -> dict[tuple[str, str, str], GroupStats]:
    """Per (op id, op kind, span name) job group: jobs started, task
    executor time, shuffle bytes written, bytes spilled (memory + disk)
    and output records written. Reads the finished log, so call it
    after the SparkContext stopped."""
    stage_group: dict[int, tuple] = {}
    stats: dict[tuple, GroupStats] = defaultdict(GroupStats)
    for path in glob.glob(f"{log_dir}/**", recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if not group.startswith("bench|"):
                        continue
                    key = tuple(group.split("|", 3)[1:])
                    stats[key].jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        # a stage's tasks run in the first job that
                        # lists it; later jobs only skip it
                        stage_group.setdefault(sid, key)
                elif kind == "SparkListenerTaskEnd":
                    key = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if key is None or not m:
                        continue
                    st = stats[key]
                    st.task_s += m.get("Executor Run Time", 0) / 1000.0
                    st.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    st.records_written += (m.get("Output Metrics") or {}).get("Records Written", 0)
    return dict(stats)


def per_op_kind(stats: dict[tuple, GroupStats], kind: str, n_ops: int) -> GroupStats:
    """Totals over every job group of ``kind`` ops, divided by the
    number of traced ops of that kind."""
    tot = GroupStats()
    for (_, k, _), st in stats.items():
        if k == kind:
            tot.jobs += st.jobs
            tot.task_s += st.task_s
            tot.shuffle_bytes += st.shuffle_bytes
            tot.spill_bytes += st.spill_bytes
            tot.records_written += st.records_written
    n = max(n_ops, 1)
    return GroupStats(tot.jobs / n, tot.task_s / n, tot.shuffle_bytes / n,
                      tot.spill_bytes / n, tot.records_written / n)

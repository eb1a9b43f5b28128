"""Span recorder and Spark job-group counters for the traced run.

The tracer wraps public engine calls from outside the engine: each
wrapped call becomes a span (name, start, end, parent id), and the
calling thread's Spark job group is set to a group unique to that span
for the call's duration, so every job the call launches -- from
whichever runner pool thread it runs on -- is attributed to exactly one
span. Spans are kept in memory; job, stage and task counters are read
from ``statusTracker`` and the status store after each pass's clock
stops.

Where a caller imported a name directly (``runner.run_table_pipeline``),
the wrapper is installed on that calling module too, not only on the
defining one.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float  # epoch seconds, comparable with Spark job timestamps
    end: float = 0.0
    key: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.id}"

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping (start, end) pairs."""
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals
    (clipped to the parent's own interval)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    by_id = {s.id: s for s in spans}
    for s in spans:
        p = by_id.get(s.parent)
        if p is not None:
            children[p.id].append((max(s.start, p.start), min(s.end, p.end)))
    return {
        s.id: max(0.0, s.duration - union_length(
            (a, b) for a, b in children[s.id] if b > a))
        for s in spans
    }


class Tracer:
    """Installs span wrappers; ``uninstall`` restores every original."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        # the span adopted as parent by spans opened on a thread that has
        # none open (the runner's pool threads inherit run_process)
        self._ambient: int | None = None

    # -- spans -----------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, key: str = "", ambient: bool = False):
        stack = self._stack()
        parent = stack[-1] if stack else self._ambient
        s = Span(next(self._ids), name, parent, 0.0, key=key)
        prev = [self.sc.getLocalProperty(p) for p in _GROUP_PROPS]
        self.sc.setJobGroup(s.group, name)
        if ambient:
            prev_ambient, self._ambient = self._ambient, s.id
        stack.append(s.id)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            if ambient:
                self._ambient = prev_ambient
            for p, v in zip(_GROUP_PROPS, prev):
                self.sc.setLocalProperty(p, v)
            with self._lock:
                self.spans.append(s)

    def wrap(self, owner, attr: str, name: str, key=None, attrs=None,
             ambient: bool = False) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper. ``key``
        and ``attrs`` map the call's arguments to the span's key and
        attributes."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            k = key(*args, **kwargs) if key else ""
            with self.span(name, k, ambient) as s:
                if attrs:
                    s.attrs.update(attrs(*args, **kwargs))
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- Spark counters ----------------------------------------------------

    def job_counters(self) -> dict[int, dict]:
        """Span id -> counters of the jobs launched in its job group:
        jobs, tasks, executor CPU seconds, shuffle and spill bytes,
        and the (start, end) wall intervals the jobs ran."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        out: dict[int, dict] = {}
        for s in self.spans:
            c = {"jobs": 0, "tasks": 0, "cpu_s": 0.0,
                 "shuffle_bytes": 0, "spill_bytes": 0, "busy": []}
            for jid in tracker.getJobIdsForGroup(s.group):
                c["jobs"] += 1
                jd = store.job(jid)
                if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                    c["busy"].append((
                        jd.submissionTime().get().getTime() / 1000,
                        jd.completionTime().get().getTime() / 1000,
                    ))
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info is not None else ():
                    try:
                        st = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # stage never ran (skipped)
                        continue
                    c["tasks"] += st.numCompleteTasks()
                    c["cpu_s"] += st.executorCpuTime() / 1e9
                    c["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
                    c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out[s.id] = c
        return out


def layer_metrics(spans: list[Span], counters: dict[int, dict],
                  layers: list[str]) -> dict[str, float]:
    """Per-layer totals: self time, the share of it no job of the layer
    was running (``driver_frac``), jobs, tasks, executor CPU, shuffle and
    spill."""
    selfs = self_times(spans)
    acc = {ly: defaultdict(float) for ly in layers}
    for s in spans:
        a = acc.get(s.layer)
        if a is None:
            continue
        c = counters.get(s.id, {})
        busy = union_length(
            (max(b0, s.start), min(b1, s.end)) for b0, b1 in c.get("busy", [])
            if min(b1, s.end) > max(b0, s.start)
        )
        a["self_s"] += selfs[s.id]
        a["driver_s"] += max(0.0, selfs[s.id] - busy)
        for k in ("jobs", "tasks", "cpu_s", "shuffle_bytes", "spill_bytes"):
            a[k] += c.get(k, 0)
    out = {}
    for ly, a in acc.items():
        out[f"{ly}.self_s"] = a["self_s"]
        out[f"{ly}.driver_frac"] = a["driver_s"] / a["self_s"] if a["self_s"] else 0.0
        out[f"{ly}.jobs"] = a["jobs"]
        out[f"{ly}.tasks"] = a["tasks"]
        out[f"{ly}.cpu_s"] = a["cpu_s"]
        out[f"{ly}.shuffle_mb"] = a["shuffle_bytes"] / 2**20
        out[f"{ly}.spill_mb"] = a["spill_bytes"] / 2**20
    return out

"""Spans around the calls into each layer, recorded from the benchmark's
own files by rebinding module and class attributes, plus a reader for
Spark's event log so job, stage, shuffle and spill figures can be
attributed to the spans that started them.

A span is (name, id, parent id, start, end, thread). Each wrapper also
sets the calling thread's Spark job description to ``name#id``, so a
job in the event log names the span that submitted it. Jobs submitted
outside any wrapper carry no description and are attributed by time.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import os
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    sid: int
    parent: int | None
    start: float
    end: float = 0.0
    thread: int = 0

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory; nothing is written until the run ends."""

    def __init__(self, spark=None) -> None:
        self.spans: list[Span] = []
        self._sc = spark.sparkContext if spark is not None else None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        # parent for spans opened on threads with no open span of their
        # own (run_crawl's write pool): the innermost main-thread span
        self._root: list[Span] = []
        self._restore: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _describe(self, span: Span | None) -> None:
        if self._sc is not None:
            self._sc.setJobDescription(f"{span.name}#{span.sid}" if span else None)

    @contextlib.contextmanager
    def span(self, name: str, root: bool = False):
        stack = self._stack()
        if stack:
            parent = stack[-1].sid
        else:
            with self._lock:
                parent = self._root[-1].sid if self._root else None
        s = Span(name, next(self._ids), parent, time.time(), thread=threading.get_ident())
        stack.append(s)
        if root:
            with self._lock:
                self._root.append(s)
        self._describe(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            if root:
                with self._lock:
                    self._root.remove(s)
            self._describe(stack[-1] if stack else None)
            with self._lock:
                self.spans.append(s)

    def wrap(self, owner: object, attr: str, name: str, root: bool = False) -> None:
        """Rebind ``owner.attr`` (a module function or a class method) to
        a wrapper that records a span per call."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name, root=root):
                return orig(*args, **kwargs)

        self._restore.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def wrap_items(self, registry: dict, keys, prefix: str) -> None:
        """Rebind registry entries (the battery's query builders)."""
        for k in keys:
            orig = registry[k]
            tracer, name = self, f"{prefix}{k}"

            def wrapper(*args, _orig=orig, _name=name, **kwargs):
                with tracer.span(_name):
                    return _orig(*args, **kwargs)

            self._restore.append((registry, k, orig))
            registry[k] = wrapper

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            if isinstance(owner, dict):
                owner[attr] = orig
            else:
                setattr(owner, attr, orig)
        self._restore.clear()

    def named(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name.startswith(prefix)]

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]


class CommitClock:
    """Timestamps-only hook for the untraced run: records when each
    round's manifest commit returns, without spans or job descriptions."""

    def __init__(self, store_cls) -> None:
        self.stamps: list[float] = []
        self._cls = store_cls
        self._orig = store_cls.commit_round
        clock = self

        @functools.wraps(self._orig)
        def commit_round(store, *args, **kwargs):
            out = clock._orig(store, *args, **kwargs)
            clock.stamps.append(time.perf_counter())
            return out

        store_cls.commit_round = commit_round

    def close(self) -> None:
        self._cls.commit_round = self._orig


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


@dataclass
class Job:
    jid: int
    desc: str | None
    start: float
    end: float
    stages: list[int]


@dataclass
class Stage:
    shuffle_write: int = 0
    spill: int = 0
    input_bytes: int = 0


_ACC = {
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write",
    "internal.metrics.memoryBytesSpilled": "spill",
    "internal.metrics.diskBytesSpilled": "spill",
    "internal.metrics.input.bytesRead": "input_bytes",
}


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_event_log(log_dir: str) -> tuple[list[Job], dict[int, Stage]]:
    """Jobs (with wall-clock seconds) and completed stages of the one
    application whose log sits in ``log_dir``."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = Job(
                    ev["Job ID"], props.get("spark.job.description"),
                    ev["Submission Time"] / 1000.0, ev["Submission Time"] / 1000.0,
                    list(ev.get("Stage IDs", [])),
                )
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"], Stage())
                for acc in info.get("Accumulables", []):
                    field = _ACC.get(acc.get("Name"))
                    if field:
                        setattr(st, field, getattr(st, field) + int(acc.get("Value") or 0))
    return sorted(jobs.values(), key=lambda j: j.start), stages


def job_totals(jobs: list[Job], stages: dict[int, Stage]) -> dict[str, int]:
    """Totals over the stages these jobs ran. A shuffle stage reused by a
    later job is listed by both but completed once, so ids are merged."""
    out = {"jobs": len(jobs), "stages": 0, "shuffle_write": 0, "spill": 0, "input_bytes": 0}
    for sid in {sid for j in jobs for sid in j.stages}:
        st = stages.get(sid)
        if st is None:  # skipped: its output was reused
            continue
        out["stages"] += 1
        out["shuffle_write"] += st.shuffle_write
        out["spill"] += st.spill
        out["input_bytes"] += st.input_bytes
    return out

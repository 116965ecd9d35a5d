"""In-memory span tracing around the engine's public layer functions.

Spans are recorded from outside the package: :meth:`Tracer.wrap` replaces
a public name where its caller looks it up (``streaming.cdc.merge_batch``,
``LakeTable.commit``, ...) with a wrapper that opens a span around the
original. Each span gets its own Spark job group, so the jobs a layer ran
are counted from Spark's status tracker without touching engine code.

A span carries name, start, end, parent and a trace id; spans opened
while another is open on the same thread are its children and share its
trace id (one trace per micro-batch, query or lookup). Self time is a
span's duration minus the union of its children's intervals.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Any, Callable

JOB_GROUP = "spark.jobGroup.id"
JOB_DESC = "spark.job.description"
JOB_INTERRUPT = "spark.job.interruptOnCancel"


@dataclass
class Span:
    id: int
    name: str
    trace: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans for one benchmark run. ``enabled=False`` makes
    :meth:`span` a plain pass-through, so untraced code paths are the same
    code with no bookkeeping."""

    def __init__(self, spark, enabled: bool = True):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self.bookkeeping_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[Any, str, Any]] = []

    def reset(self) -> None:
        """Drop the spans recorded so far (set-up and warm-up work)."""
        with self._lock:
            self.spans.clear()
            self.bookkeeping_s = 0.0

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, trace: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        s = Span(
            id=sid,
            name=name,
            trace=trace or (parent.trace if parent else f"{name}#{sid}"),
            parent=parent.id if parent else None,
            start=0.0,
            attrs=dict(attrs),
        )
        group = f"perfbench-{sid}"
        saved = [self.sc.getLocalProperty(k) for k in (JOB_GROUP, JOB_DESC, JOB_INTERRUPT)]
        self.sc.setJobGroup(group, name)
        stack.append(s)
        s.start = time.perf_counter()
        self._add_bookkeeping(s.start - t0)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            for k, v in zip((JOB_GROUP, JOB_DESC, JOB_INTERRUPT), saved):
                self.sc.setLocalProperty(k, v)
            s.jobs = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
            with self._lock:
                self.spans.append(s)
            self._add_bookkeeping(time.perf_counter() - s.end)

    def _add_bookkeeping(self, dt: float) -> None:
        with self._lock:
            self.bookkeeping_s += dt

    def wrap(
        self,
        owner: Any,
        attr: str,
        name: str,
        counts: Callable[..., dict] | None = None,
    ) -> None:
        """Replace ``owner.attr`` with a spanned wrapper. ``counts(result,
        *args, **kwargs)`` may add attributes (files written, buckets
        compacted, ...) to the span after the call returns."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as s:
                out = orig(*args, **kwargs)
                if s is not None and counts is not None:
                    s.attrs.update(counts(out, *args, **kwargs))
                return out

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # ---------------- analysis ----------------

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def self_time(self, s: Span, kids: dict[int, list[Span]]) -> float:
        """Duration minus the union of the children's intervals (clipped
        to the parent)."""
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return s.dur - covered

    def subtree(self, s: Span, kids: dict[int, list[Span]]) -> list[Span]:
        out, todo = [], [s]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(kids.get(cur.id, []))
        return out

    def stage_totals(self, job_ids: list[int]) -> dict[str, int]:
        """Tasks, shuffle-write bytes and spill bytes of the given jobs'
        executed stages, read from Spark's status store."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        tot = {"tasks": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}
        seen: set[int] = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(int(sid))
                except Exception:  # py4j error: stage evicted from the store
                    continue
                tot["tasks"] += int(sd.numCompleteTasks())
                tot["shuffle_write_bytes"] += int(sd.shuffleWriteBytes())
                tot["spill_bytes"] += int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled())
        return tot

    def dump(self, path: str) -> None:
        """Write every span as one JSON line, with its self time."""
        kids = self.children()
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                d = asdict(s)
                d["self_s"] = self.self_time(s, kids)
                fh.write(json.dumps(d) + "\n")

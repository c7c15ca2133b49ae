"""Outside-in tracing for the benchmark's traced run.

The program is not instrumented. Instead the traced run replaces the public
entry points of each layer with wrappers that record a span around every
call: name, start, end, parent span and op id. Spans are held in memory and
written out when the run ends. A layer's self time is its span's duration
minus the time its child spans cover, so on every op the self times of all
spans add up to the op's wall time.

Spark's own counters are read through public APIs after each op: the job
group's jobs from the status tracker, each job's stages from the status
store (tasks, failed tasks, shuffle bytes written, bytes spilled), and the
Catalyst phase times of the op's query from ``queryExecution().tracker()``.
Jobs are attributed to the innermost span open when they were submitted.

Calls too frequent for a span each, the Python-to-JVM round trips through
py4j, are only counted and timed per op (``Tracer.count``). That time lies
inside the spans of the layers that made the calls, so it is not a self
time of its own.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Span:
    __slots__ = ("op", "id", "parent", "name", "start", "end", "wall_ms", "attrs")

    def __init__(self, op, sid, parent, name):
        self.op, self.id, self.parent, self.name = op, sid, parent, name
        self.start = time.perf_counter()
        self.wall_ms = time.time() * 1000.0
        self.end = None
        self.attrs: dict = {}

    @property
    def duration(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {
            "op": self.op, "id": self.id, "parent": self.parent,
            "name": self.name, "start": self.start, "end": self.end,
            **({"attrs": self.attrs} if self.attrs else {}),
        }


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.op: int | None = None
        self._local = threading.local()
        self._next = 0
        self._patches: list[tuple] = []
        self.counts: dict[tuple, list] = defaultdict(lambda: [0, 0.0])

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        sp = Span(self.op, self._next, stack[-1].id if stack else None, name)
        self._next += 1
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            self.spans.append(sp)

    def wrap(self, owner, attr: str, name: str, before=None, after=None):
        """Replace ``owner.attr`` with a wrapper recording a ``name`` span.
        ``before(args)`` runs first and its result goes to
        ``after(span, args, token, result)``, which may set span attrs."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            token = before(args) if before else None
            with tracer.span(name) as sp:
                out = orig(*args, **kwargs)
                if after:
                    after(sp, args, token, out)
                return out

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def count(self, owner, attr: str, name: str):
        """Replace ``owner.attr`` with a wrapper that adds each call and its
        seconds to ``counts[(op, name)]``. Calls made while no span is open,
        such as the benchmark's own reads of Spark's counters between ops,
        are not counted."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def counted(*args, **kwargs):
            if not tracer._stack():
                return orig(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                c = tracer.counts[(tracer.op, name)]
                c[0] += 1
                c[1] += time.perf_counter() - t0

        setattr(owner, attr, counted)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def op_spans(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(sp.as_dict()) + "\n")


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self time per span name: duration minus the union of the intervals
    its direct children cover."""
    children = defaultdict(list)
    for sp in spans:
        if sp.parent is not None:
            children[sp.parent].append((sp.start, sp.end))
    out: dict[str, float] = defaultdict(float)
    for sp in spans:
        covered, reach = 0.0, sp.start
        for start, end in sorted(children[sp.id]):
            start = max(start, reach)
            if end > start:
                covered += end - start
                reach = end
        out[sp.name] += sp.duration - covered
    return dict(out)


def phase_seconds(df) -> dict[str, float]:
    """Catalyst phase durations (analysis, optimization, planning) of the
    query behind ``df``, from its QueryPlanningTracker."""
    out = {}
    phases = df._jdf.queryExecution().tracker().phases().iterator()
    while phases.hasNext():
        kv = phases.next()
        out[kv._1()] = kv._2().durationMs() / 1000.0
    return out


def group_jobs(spark, group: str) -> list[dict]:
    """Jobs of a job group with their submission time and stage totals."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs = []
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(jid)
        sub = job.submissionTime()
        rec = {
            "id": jid,
            "submitted_ms": sub.get().getTime() if sub.isDefined() else 0,
            "stages": 0, "tasks": 0, "tasks_failed": 0,
            "shuffle_bytes": 0, "spill_bytes": 0, "output_bytes": 0,
        }
        stages = job.stageIds().iterator()
        while stages.hasNext():
            attempts = store.stageData(stages.next(), False, None, False, None)
            it = attempts.iterator()
            while it.hasNext():
                st = it.next()
                if str(st.status()) == "SKIPPED":
                    continue
                rec["stages"] += 1
                rec["tasks"] += st.numTasks()
                rec["tasks_failed"] += st.numFailedTasks()
                rec["shuffle_bytes"] += st.shuffleWriteBytes()
                rec["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                rec["output_bytes"] += st.outputBytes()
        jobs.append(rec)
    return jobs


def attribute_jobs(spans: list[Span], jobs: list[dict]) -> dict[str, int]:
    """Count jobs per span name, each job going to the innermost span that
    was open at its submission time."""
    counts: dict[str, int] = defaultdict(int)
    for job in jobs:
        t = job["submitted_ms"]
        best = None
        for sp in spans:
            end_ms = sp.wall_ms + sp.duration * 1000.0
            if sp.wall_ms <= t <= end_ms and (best is None or sp.wall_ms >= best.wall_ms):
                best = sp
        counts[best.name if best else "op"] += 1
    return dict(counts)


def self_time_table(per_op: list[dict[str, float]], walls: list[float]) -> str:
    """Text table: per span name, mean self seconds per op and share of
    the summed op wall time."""
    total: dict[str, float] = defaultdict(float)
    for row in per_op:
        for name, secs in row.items():
            total[name] += secs
    wall = sum(walls) or 1.0
    n = max(1, len(per_op))
    lines = [f"{'layer':<24}{'self_s/op':>12}{'share':>9}"]
    for name, secs in sorted(total.items(), key=lambda kv: -kv[1]):
        lines.append(f"{name:<24}{secs / n:>12.5f}{secs / wall:>9.1%}")
    covered = sum(total.values()) / wall
    lines.append(f"{'sum of self / op wall':<24}{'':>12}{covered:>9.1%}")
    return "\n".join(lines)

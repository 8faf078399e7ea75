"""Span tracer for the traced benchmark run.

The tracer measures the engine from outside: it replaces a public
function with a wrapper that opens a span around the call, on the module
that defines it and on every engine module that imported it by name
(``from x import y`` binds its own reference). Each span records its
name, start, end and parent, and runs under its own Spark job group, so
the jobs a span launched outside its child spans are read once, from the
status tracker, when the span ends. Spans stay in memory until the run
writes them out.

Untraced runs never construct a tracer: no wrapper, no job group, no
status-tracker poll.
"""

from __future__ import annotations

import functools
import json
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

ENGINE_PKG = "data_engineering_capstone_project__spark"
ROOT_GROUP = "perfbench-untraced"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0


def _merged_length(intervals: list[tuple[float, float]]) -> float:
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
    """Span duration minus the part of its interval that its direct
    children cover (children clipped to the parent, overlaps merged)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.sid: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                kids.setdefault(s.parent, []).append((lo, hi))
    return {
        s.sid: (s.end - s.start) - _merged_length(kids.get(s.sid, []))
        for s in spans
    }


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = False
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._sc = None

    def bind(self, spark) -> None:
        """Start tagging jobs once a session exists."""
        self._sc = spark.sparkContext
        self._sc.setJobGroup(ROOT_GROUP, ROOT_GROUP)

    def _group(self, sid: int | None) -> str:
        return ROOT_GROUP if sid is None else f"perfbench-span-{sid}"

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = Span(len(self.spans), name, parent, time.perf_counter())
        self.spans.append(rec)
        self._stack.append(rec.sid)
        sc = self._sc
        group = self._group(rec.sid)
        if sc is not None:
            sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                rec.jobs = len(sc.statusTracker().getJobIdsForGroup(group))
                sc.setJobGroup(self._group(parent), self._group(parent))

    def wrap(self, module, attr: str, name: str, within: str | None = None) -> None:
        """Trace every call of ``module.attr`` under span ``name``. With
        ``within``, only calls made directly inside a span of that name
        open a span; other calls stay part of their enclosing span."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if within is not None and (
                not self._stack or self.spans[self._stack[-1]].name != within
            ):
                return orig(*args, **kwargs)
            with self.span(name):
                return orig(*args, **kwargs)

        targets = [module] + [
            m
            for m in list(sys.modules.values())
            if m is not None
            and m is not module
            and (
                getattr(m, "__name__", "").startswith(ENGINE_PKG)
                or getattr(m, "__name__", "") == "__spark_entry__"
            )
            and getattr(m, "__dict__", {}).get(attr) is orig
        ]
        for m in targets:
            setattr(m, attr, traced)
            self._patches.append((m, attr, orig))

    def wrap_public(self, module, prefix: str, names: list[str]) -> None:
        for n in names:
            self.wrap(module, n, f"{prefix}.{n}")

    def unwrap(self) -> None:
        for m, attr, orig in reversed(self._patches):
            setattr(m, attr, orig)
        self._patches.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)

    # ----- aggregation -------------------------------------------------

    def totals(self, since: float | None = None) -> dict[str, dict[str, float]]:
        """Per span name: summed self seconds, own jobs and calls, over
        the spans that start at or after ``since`` (all spans if None)."""
        st = self_times(self.spans)
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            if since is not None and s.start < since:
                continue
            agg = out.setdefault(s.name, {"self_s": 0.0, "jobs": 0, "calls": 0})
            agg["self_s"] += st[s.sid]
            agg["jobs"] += s.jobs
            agg["calls"] += 1
        return out

    def subtree_jobs(self, sid: int) -> int:
        kids: dict[int, list[int]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s.sid)
        todo, n = [sid], 0
        while todo:
            cur = todo.pop()
            n += self.spans[cur].jobs
            todo += kids.get(cur, [])
        return n

    def median_duration(self, name: str) -> float:
        ds = [s.end - s.start for s in self.spans if s.name == name]
        return statistics.median(ds) if ds else 0.0

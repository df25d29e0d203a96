"""Spans recorded from outside the program, at its public functions.

A span has a name, a start, an end, a parent and a request id (the
operation it belongs to). Spans are kept in memory and written out when
the run ends. In a traced run every span also becomes a Spark job group
(``SparkContext.setJobGroup``), so engine counters from the event log
can be attributed to it, and the DataFrame a wrapped call returns is
forced at the call's boundary — Spark is lazy, so without forcing, a
call's work would be billed to whichever later call runs the action.

With tracing off every method is a no-op: the untraced run measures the
program as a user runs it.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: int
    start: float
    end: float = 0.0
    counts: dict | None = None

    @property
    def group(self) -> str:
        return f"lakebench-span-{self.id}"

    @property
    def dur(self) -> float:
        return self.end - self.start


def force(df) -> None:
    """Run a DataFrame's full plan without collecting it."""
    df.write.format("noop").mode("overwrite").save()


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self._sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._request = 0

    def new_request(self) -> int:
        self._request += 1
        return self._request

    @contextmanager
    def span(self, name: str):
        """Record a span (traced runs only); yields the Span or None."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(id=len(self.spans), name=name,
                 parent=parent.id if parent else None,
                 request=self._request, start=time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(parent.group, parent.name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    def wrap(self, fn, name: str, after=None):
        """``fn`` inside a span; returned DataFrames are forced inside the
        span. ``after(args, kwargs, result)`` runs once the span has
        closed and returns counts to attach to it."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                for df in out if isinstance(out, (list, tuple)) else (out,):
                    if hasattr(df, "write") and hasattr(df, "schema"):
                        force(df)
            if after is not None:
                s.counts = after(args, kwargs, out)
            return out

        return traced

    @contextmanager
    def patched(self, targets):
        """Temporarily replace module attributes with traced wrappers.
        ``targets`` is a list of ``(module, attr, span_name, kwargs)``.
        Untraced runs patch nothing."""
        saved = []
        try:
            if self.enabled:
                for module, attr, name, kw in targets:
                    orig = getattr(module, attr)
                    saved.append((module, attr, orig))
                    setattr(module, attr, self.wrap(orig, name, **kw))
            yield
        finally:
            for module, attr, orig in reversed(saved):
                setattr(module, attr, orig)

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it covered by child spans."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == span.id)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            s, e = max(s, span.start), min(e, span.end)
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span.dur - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)

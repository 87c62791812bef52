"""Spans and job groups for the traced run.

A span is ``(id, name, start, end, parent, op)``: recorded around each
call the benchmark makes into a package layer and kept in memory; the
worker writes them out once when the run ends. While a span with a
``group`` is open, every Spark job the driver thread submits carries
that job group, so the event log can be folded per operation and per
layer.

``wrap_read_table`` replaces ``io.read_table`` with a spanned version
before the query modules import it, so reads made inside registered
queries are traced without touching the package. Untraced runs never
call it and pay nothing.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[tuple[Span, str | None]] = []
        self._group: str | None = None

    @property
    def op(self) -> str | None:
        return self._stack[-1][0].op if self._stack else None

    def _set_group(self, group: str | None) -> None:
        self._group = group
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str, op: str | None = None, group: str | None = None):
        parent = self._stack[-1][0] if self._stack else None
        s = Span(len(self.spans), name, time.time(), 0.0, parent and parent.id, op or (parent and parent.op))
        self.spans.append(s)
        outer = self._group
        self._stack.append((s, outer))
        if group is not None:
            self._set_group(group)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if group is not None:
                self._set_group(outer)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_s, cur_e = 0.0, None, None
        for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
            cs, ce = max(c.start, s.start), min(c.end, s.end)
            if ce <= cs:
                continue
            if cur_e is None or cs > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = cs, ce
            else:
                cur_e = max(cur_e, ce)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s.id] = (s.end - s.start) - covered
    return out


def wrap_read_table(tracer_of) -> None:
    """Route ``io.read_table`` through a span. ``tracer_of()`` returns
    the active Tracer or None; reads outside a traced operation run
    unspanned. Must run before any query module is imported."""
    from lake_satellite_image_etl_spark import io

    original = io.read_table

    def read_table(spark, sf_dir, name):
        tracer = tracer_of()
        if tracer is None or tracer.op is None:
            return original(spark, sf_dir, name)
        with tracer.span("io.read_table", group=f"{tracer.op}/io.read_table"):
            return original(spark, sf_dir, name)

    io.read_table = read_table

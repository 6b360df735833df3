"""Span tracing for the traced run, installed from outside the engine.

Each layer's public entry point is replaced by a module-attribute
wrapper for the duration of the traced jobs, so the real
``Engine.process_queue`` path runs through them unchanged. A wrapper
records a span (name, layer, start, end, parent, job id) and points the
Spark job group at that span, so every Spark job the layer launches can
be read back from the status store and attached as a child span.

``plans.find.find_affected_files`` only builds the Find plan; its action
runs in the caller right after it returns. Its span is therefore
open-ended: it stays current, and keeps the job group, until the next
sibling span starts or its parent ends.

Spans are held in memory; ``dump`` writes them out once at the end.
"""

from __future__ import annotations

import functools
import json
import time
from dataclasses import asdict, dataclass

import counters


@dataclass
class Span:
    id: int
    name: str
    layer: str
    job: str
    parent: int | None
    start: float
    end: float | None = None
    open_ended: bool = False


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.job = ""
        self._patches: list = []
        # name -> [(args, kwargs, result)] captured for per-layer counts
        self.calls: dict = {}

    # --- spans -----------------------------------------------------------

    def _group(self, span: Span | None) -> str:
        return f"{self.job}|{span.name}" if span else f"{self.job}|idle"

    def _close_open_ended(self, now: float) -> None:
        while self.stack and self.stack[-1].open_ended:
            self.stack.pop().end = now

    def begin(self, name: str, layer: str, open_ended: bool = False) -> Span:
        now = time.time()
        self._close_open_ended(now)
        parent = self.stack[-1].id if self.stack else None
        span = Span(len(self.spans), name, layer, self.job, parent, now,
                    open_ended=open_ended)
        self.spans.append(span)
        self.stack.append(span)
        self.spark.sparkContext.setJobGroup(self._group(span), name)
        return span

    def end(self, span: Span) -> None:
        if span.open_ended:
            return  # closed later by a sibling or the parent
        now = time.time()
        self._close_open_ended(now)
        self.stack.pop().end = now
        self.spark.sparkContext.setJobGroup(
            self._group(self.stack[-1] if self.stack else None), "bench"
        )

    def record(self, name: str, layer: str, start: float, end: float,
               parent: int | None = None) -> Span:
        span = Span(len(self.spans), name, layer, self.job, parent, start, end)
        self.spans.append(span)
        return span

    # --- wrappers --------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, layer: str,
             open_ended: bool = False) -> None:
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            span = self.begin(name, layer, open_ended)
            try:
                result = original(*args, **kwargs)
            finally:
                self.end(span)
            self.calls.setdefault(name, []).append((args, kwargs, result))
            return result

        self._patches.append((owner, attr, original))
        setattr(owner, attr, traced)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # --- Spark jobs as child spans ---------------------------------------

    def attach_spark_jobs(self, job: str) -> counters.GroupCounters:
        """Turn the Spark jobs each span of ``job`` launched into child
        spans; returns the counters per span name plus their total."""
        counters.drain_listener_bus(self.spark)
        per_span: dict = {}
        for span in [s for s in self.spans if s.job == job]:
            if span.layer == "spark":
                continue
            got = counters.read_group(self.spark, f"{job}|{span.name}")
            for sj in got.jobs:
                self.record(f"spark.job.{sj.job_id}", "spark", sj.start,
                            sj.end, span.id)
            if span.name in per_span:
                per_span[span.name].add(got)
            else:
                per_span[span.name] = got
        return per_span

    # --- self time -------------------------------------------------------

    def self_times(self, job: str) -> dict:
        """Per-layer self time of ``job``: a span's duration minus the
        part of it covered by child layer spans. Spark job spans are the
        engine work a layer launched and stay inside its self time."""
        spans = [s for s in self.spans if s.job == job]
        out: dict = {}
        for s in spans:
            if s.layer == "spark":
                continue
            kids = sorted(
                (c.start, c.end)
                for c in spans
                if c.parent == s.id and c.layer != "spark"
            )
            covered, cur_start, cur_end = 0.0, None, None
            for a, b in kids:
                a, b = max(a, s.start), min(b, s.end)
                if b <= a:
                    continue
                if cur_end is None or a > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = a, b
                else:
                    cur_end = max(cur_end, b)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=0)

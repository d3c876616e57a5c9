"""Recorders for the calls a workload makes into the library.

A workload routes each library call through a recorder. :class:`Plain`
just makes the call, so the untraced run times the library and nothing
else. :class:`Traced` wraps the call in a span (name, start, end, parent,
op id), kept in memory and written out when the run ends, and records
per-call counters: Spark jobs, stages and tasks, and, for lazy results,
plan build time apart from action time plus the executed plan's SQL
metrics.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

from probes import JobCounter, plan_metrics


class Plain:
    """Untraced: every call is made directly."""

    op = None
    traced = False

    def call(self, name, fn, counters=None):
        return fn()

    def lazy(self, name, build, plan=()):
        return build().collect()

    def value(self, name, v):
        pass


class Traced:
    """Spans plus per-call counters, grouped by metric name."""

    traced = True

    def __init__(self, spark):
        self.jobs = JobCounter(spark)
        self.spans: list[dict] = []
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.op = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name):
        rec = {"name": name, "op": self.op, "start": time.perf_counter(),
               "end": None, "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def value(self, name, v):
        self.samples[name].append(v)

    def call(self, name, fn, counters=("jobs",)):
        """An eager call, timed whole as ``<name>.call_s``."""
        mark = self.jobs.mark()
        with self.span(name):
            t0 = time.perf_counter()
            out = fn()
            self.value(f"{name}.call_s", time.perf_counter() - t0)
        self._jobs(name, mark, counters)
        return out

    def lazy(self, name, build, plan=()):
        """A call returning a DataFrame: ``<name>.build_s`` times the call,
        ``<name>.action_s`` its ``collect()``; ``plan`` names the SQL
        metrics to read from the executed plan afterwards."""
        mark = self.jobs.mark()
        with self.span(name):
            with self.span(f"{name}.build"):
                t0 = time.perf_counter()
                df = build()
                t1 = time.perf_counter()
            with self.span(f"{name}.action"):
                rows = df.collect()
                t2 = time.perf_counter()
        self.value(f"{name}.build_s", t1 - t0)
        self.value(f"{name}.action_s", t2 - t1)
        self._jobs(name, mark, ("jobs", "stages", "tasks"))
        if plan:
            pm = plan_metrics(df)
            for key in plan:
                self.value(f"{name}.{key}", pm[key])
        return rows

    def _jobs(self, name, mark, counters):
        got = self.jobs.since(mark)
        for key in counters:
            self.value(f"{name}.{key}", got[key])

    def medians(self) -> dict[str, float]:
        return {k: statistics.median(v) for k, v in self.samples.items()}

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its child spans
        cover (children of one span never overlap: one client)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["name"]] += s["end"] - s["start"] - child[i]
        return dict(out)

    def dump(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [
                        dict(s, start=s["start"] - t0, end=s["end"] - t0)
                        for s in self.spans
                    ],
                    "self_s": self.self_times(),
                },
                f,
            )

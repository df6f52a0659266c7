"""Spans and per-layer metrics, recorded around calls into the engine.

A disabled :class:`Tracer` is the untraced mode: its spans cost one
generator frame and record nothing, so the end-to-end timings carry no
instrumentation. Enabled, with counters attached, each span records
(name, start, end, parent) and can add its wall time and its Spark work
(a :class:`~pbench.counters.SparkCounters` delta) to named metrics of the
current pass. The time spent reading counters is kept as the tracer's own
overhead.
"""

from __future__ import annotations

import sys
import time
from collections import defaultdict
from contextlib import contextmanager

from pbench.counters import SparkCounters, Work


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.counters: SparkCounters | None = None
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_no = -1
        self.metrics: dict[str, float] = defaultdict(float)
        self.overhead_s = 0.0

    def attach(self, counters: SparkCounters) -> None:
        """Read Spark work from ``counters`` (one per SparkContext)."""
        self.counters = counters

    def start_pass(self, pass_no: int) -> None:
        self.pass_no = pass_no
        self.metrics = defaultdict(float)
        self.overhead_s = 0.0

    def work(self) -> Work:
        """Cumulative Spark work (traced mode only); the read's own cost
        is booked as tracing overhead."""
        t0 = time.perf_counter()
        w = self.counters.read()
        self.overhead_s += time.perf_counter() - t0
        return w

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            self.metrics[name] += value

    @contextmanager
    def span(self, name: str, time_metric: str | None = None,
             jobs_metric: str | None = None, work_prefix: str | None = None):
        """Record one span. ``time_metric`` gets its wall seconds,
        ``jobs_metric`` the Spark jobs it ran, and ``work_prefix`` every
        :class:`Work` field as ``<prefix>.<field>``."""
        if not self.enabled:
            yield
            return
        w0 = self.work() if (jobs_metric or work_prefix) else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "pass": self.pass_no,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if time_metric:
                self.metrics[time_metric] += rec["end"] - rec["start"]
            if w0 is not None:
                d = self.work() - w0
                rec["jobs"] = d.jobs
                if jobs_metric:
                    self.metrics[jobs_metric] += d.jobs
                if work_prefix:
                    for k, v in d.as_dict().items():
                        self.metrics[f"{work_prefix}.{k}"] += v

    def wrap_load_table(self) -> None:
        """Route every binding of ``catalog.load_table`` in the engine's
        loaded modules through a span that books the ``catalog`` layer."""
        from etl_loading_scripts_spark import catalog

        orig = catalog.load_table

        def load_table(spark, sf_dir, name):
            with self.span(f"catalog.load_table:{name}",
                           time_metric="catalog.load_s",
                           jobs_metric="catalog.load_jobs"):
                self.metrics["catalog.load_calls"] += 1
                return orig(spark, sf_dir, name)

        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith("etl_loading_scripts_spark")
                    and getattr(mod, "load_table", None) is orig):
                mod.load_table = load_table

"""In-memory spans and counters for the traced run, plus readers for
Spark's own reports (status store, query planning tracker).

A span is ``(name, start, end, parent, op)``: ``parent`` is the index
of the enclosing span (``None`` at top level) and ``op`` the id of the
operation it belongs to. Spans are only recorded by the benchmark's
own code, around calls into the package's public functions; when
tracing is off every method is a no-op.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self._lock = threading.Lock()
        self._local = threading.local()
        self.t0 = time.time()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op: int | None = None, parent: int | None = None):
        """Record ``name`` around the body, nested under the calling
        thread's innermost open span, else under ``parent`` (a span
        another thread opened)."""
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else parent
        if op is None and parent is not None:
            op = self.spans[parent].op
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, time.time(), 0.0, parent, op))
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx].end = time.time()

    def add_span(self, name: str, start: float, end: float, parent: int | None, op: int | None):
        """Record a span reported by Spark (times in epoch seconds)."""
        if self.enabled:
            with self._lock:
                self.spans.append(Span(name, start, end, parent, op))

    def innermost(self) -> int | None:
        stack = self._stack()
        return stack[-1] if stack else None

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            with self._lock:
                self.counters[name] += value

    def sample(self, name: str, value: float) -> None:
        """One per-operation observation; reported as a median."""
        if self.enabled:
            with self._lock:
                self.samples[name].append(value)

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its children cover."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            covered = _union(
                [(max(c.start, s.start), min(c.end, s.end)) for c in children[i]]
            )
            out[s.name] += (s.end - s.start) - covered
        return dict(out)

    def top_level_seconds(self) -> float:
        return _union([(s.start, s.end) for s in self.spans if s.parent is None])

    def self_time_table(self, wall_s: float) -> str:
        """Per-layer self time with the unattributed remainder of the
        run's wall time."""
        rows = sorted(self.self_times().items(), key=lambda kv: -kv[1])
        rest = wall_s - self.top_level_seconds()
        lines = [f"{'layer (self time)':<44}{'s':>9}{'share':>8}"]
        for name, sec in rows + [("(unattributed)", rest)]:
            lines.append(f"{name:<44}{sec:>9.3f}{sec / wall_s:>8.1%}")
        lines.append(f"{'run wall time':<44}{wall_s:>9.3f}")
        return "\n".join(lines)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "t0": self.t0,
                    "spans": [asdict(s) for s in self.spans],
                    "counters": dict(self.counters),
                    "samples": dict(self.samples),
                    **extra,
                },
                f,
            )


def _union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# -- Spark's own reporting -----------------------------------------------


def _seq(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class SparkJobs:
    """Job and stage records from the driver's status store (works with
    the UI disabled), read in one call each as JSON. A traced run keeps
    every job and stage (see ``common.session_conf``), so one
    :meth:`collect` after the measured region sees them all."""

    STAGE_KEYS = {
        "executorRunTime": "executor_run_ms",
        "executorCpuTime": "executor_cpu_ms",
        "shuffleReadBytes": "shuffle_read_bytes",
        "shuffleWriteBytes": "shuffle_write_bytes",
        "jvmGcTime": "gc_ms",
        "outputBytes": "output_bytes",
    }

    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._mapper = sc._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(sc._jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(scala.__getattr__("MODULE$"))
        self.jobs: list[tuple[float, float, int]] = []
        self.stages: list[dict[str, float]] = []

    def collect(self) -> None:
        jobs = json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))
        stages = json.loads(
            self._mapper.writeValueAsString(
                self._store.stageList(None, False, False, self._no_quantiles, None)
            )
        )
        self.jobs = [
            (j["submissionTime"] / 1000.0, j["completionTime"] / 1000.0, j["numTasks"])
            for j in jobs
            if j.get("submissionTime") and j.get("completionTime")
        ]
        self.stages = []
        for s in stages:
            if s["status"] != "COMPLETE" or not s.get("submissionTime"):
                continue
            row = {out: float(s[key]) for key, out in self.STAGE_KEYS.items()}
            row["executor_cpu_ms"] /= 1e6  # reported in nanoseconds
            row["start"] = s["submissionTime"] / 1000.0
            self.stages.append(row)

    def jobs_between(self, lo: float, hi: float) -> list[tuple[float, float, int]]:
        return [j for j in self.jobs if lo <= j[0] <= hi]

    def totals(self, lo: float, hi: float) -> dict[str, float]:
        """Spark-wide metrics for the jobs submitted in ``[lo, hi]``."""
        jobs = self.jobs_between(lo, hi)
        covered = _union([(max(a, lo), min(b, hi)) for a, b, _ in jobs])
        out = {
            "spark.jobs": float(len(jobs)),
            "spark.tasks": float(sum(j[2] for j in jobs)),
            "spark.out_of_job_share": 1.0 - covered / (hi - lo) if hi > lo else 0.0,
        }
        for key in self.STAGE_KEYS.values():
            out[f"spark.{key}"] = sum(s[key] for s in self.stages if lo <= s["start"] <= hi)
        return out


def planning_phases(df) -> dict[str, tuple[float, float]]:
    """``QueryPlanningTracker`` phases of ``df``'s query execution as
    ``{phase: (start, end)}`` in epoch seconds."""
    out = {}
    phases = df._jdf.queryExecution().tracker().phases()
    for kv in _seq(phases):
        out[kv._1()] = (kv._2().startTimeMs() / 1000.0, kv._2().endTimeMs() / 1000.0)
    return out

"""Tracing for the per-layer run, done entirely from the benchmark's side.

* :class:`Tracer` wraps public entry points of the engine's modules at
  runtime (no engine file is edited) and records one span per call: name,
  start, end, parent span and the id of the operation it belongs to.
  Spans stay in memory until the run writes them out.
* :func:`self_times` turns spans into per-layer self time: a span's
  duration minus the part of its interval that its children cover.
* :func:`spark_window_stats` reads Spark's own event log (enabled only in
  the traced run) and summarises jobs, stages and tasks inside a wall-clock
  window.
* :func:`progress_listener` collects Structured Streaming progress events.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str | None


class Tracer:
    """Span recorder. While ``enabled`` is False every wrapper calls straight
    through, so one process can alternate traced and untraced passes."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self.run_id: str | None = None
        #: span every callback-thread span without a parent attaches to
        #: (streaming sinks run on a py4j callback thread, not the caller's)
        self.root: int | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []
        #: pass id ("p3") -> metric -> count recorded by the wrappers
        self.counts: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))

    def count(self, metric: str, x: float) -> None:
        """Add ``x`` to ``metric`` of the pass the current operation is in."""
        with self._lock:
            self.counts[(self.run_id or "").split("/")[0]][metric] += x

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str):
        return _SpanCtx(self, name)

    def wrap(
        self, owner: object, attr: str, name: str, before=None, after=None, on_error=None
    ) -> None:
        """Replace ``owner.attr`` (a module function or a class method) by a
        span-recording wrapper. ``before(args, kwargs)`` and ``after(result,
        args, kwargs, state)`` run outside the span (``state`` is what
        ``before`` returned) to record counts; ``on_error(exc)`` sees every
        exception before it propagates."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            state = before(args, kwargs) if before is not None else None
            try:
                with tracer.span(name):
                    out = orig(*args, **kwargs)
            except Exception as e:
                if on_error is not None:
                    on_error(e)
                raise
            if after is not None:
                after(out, args, kwargs, state)
            return out

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.t = tracer
        self.name = name
        self.span: Span | None = None

    def __enter__(self) -> Span | None:
        t = self.t
        if not t.enabled:
            return None
        st = t._stack()
        parent = st[-1] if st else t.root
        self.span = Span(next(t._ids), self.name, time.perf_counter(), 0.0, parent, t.run_id)
        st.append(self.span.id)
        return self.span

    def __exit__(self, *exc) -> None:
        if self.span is None:
            return
        self.span.end = time.perf_counter()
        self.t._stack().pop()
        with self.t._lock:
            self.t.spans.append(self.span)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: Σ (duration − union of its children's intervals,
    each clipped to the parent's interval)."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    by_id = {s.id: s for s in spans}
    for s in spans:
        p = by_id.get(s.parent) if s.parent is not None else None
        if p is not None:
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                kids[p.id].append((lo, hi))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.name] += (s.end - s.start) - union_length(kids[s.id])
    return dict(out)


def total_times(spans: list[Span]) -> dict[str, float]:
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.name] += s.end - s.start
    return dict(out)


# -- Spark event log -----------------------------------------------------------

def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


@dataclass
class SparkEvents:
    jobs: list[tuple[float, float]]  # (submit, end) epoch seconds
    stages: list[float]  # completion epoch seconds
    tasks: list[dict]  # finish epoch seconds + metrics


def read_event_log(log_dir: str) -> SparkEvents:
    jobs_open: dict[int, float] = {}
    jobs: list[tuple[float, float]] = []
    stages: list[float] = []
    tasks: list[dict] = []
    # Spark 4 rolls the log: one directory per app, ``events_<n>_...`` files
    paths = sorted(
        os.path.join(d, f)
        for d, _, files in os.walk(log_dir)
        for f in files
        if f.startswith(("events_", "local-", "app-"))
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs_open[ev["Job ID"]] = ev["Submission Time"] / 1e3
                elif kind == "SparkListenerJobEnd":
                    start = jobs_open.pop(ev["Job ID"], None)
                    if start is not None:
                        jobs.append((start, ev["Completion Time"] / 1e3))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if "Completion Time" in info:
                        stages.append(info["Completion Time"] / 1e3)
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append(
                        {
                            "end": info["Finish Time"] / 1e3,
                            "run_s": m.get("Executor Run Time", 0) / 1e3,
                            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                            "gc_s": m.get("JVM GC Time", 0) / 1e3,
                            "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                            "spill_bytes": m.get("Disk Bytes Spilled", 0),
                        }
                    )
    return SparkEvents(jobs, stages, tasks)


def spark_window_stats(ev: SparkEvents, lo: float, hi: float, cores: int) -> dict[str, float]:
    """Jobs/stages/tasks that ENDED inside the epoch window ``[lo, hi]``;
    driver gap = window time during which no job was running."""
    in_win = lambda t: lo <= t <= hi  # noqa: E731
    jobs = [(max(a, lo), min(b, hi)) for a, b in ev.jobs if b >= lo and a <= hi]
    tasks = [t for t in ev.tasks if in_win(t["end"])]
    wall = hi - lo
    run = sum(t["run_s"] for t in tasks)
    return {
        "spark.jobs": sum(1 for _, b in ev.jobs if in_win(b)),
        "spark.stages": sum(1 for t in ev.stages if in_win(t)),
        "spark.tasks": len(tasks),
        "spark.task_run_s": run,
        "spark.task_cpu_s": sum(t["cpu_s"] for t in tasks),
        "spark.gc_s": sum(t["gc_s"] for t in tasks),
        "spark.shuffle_write_bytes": sum(t["shuffle_write_bytes"] for t in tasks),
        "spark.spill_bytes": sum(t["spill_bytes"] for t in tasks),
        "spark.core_busy_frac": run / (wall * cores) if wall > 0 else 0.0,
        "spark.driver_gap_s": wall - union_length(jobs),
    }


# -- Structured Streaming progress ------------------------------------------------


def progress_listener(sink: list[dict]):
    """A StreamingQueryListener appending one dict per micro-batch with
    data (``numInputRows`` > 0) to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            if p.numInputRows <= 0:
                return
            d = dict(p.durationMs)
            sink.append(
                {
                    "wall": time.time(),
                    "batch_s": d.get("triggerExecution", 0) / 1e3,
                    "add_batch_s": d.get("addBatch", 0) / 1e3,
                    "planning_s": d.get("queryPlanning", 0) / 1e3,
                    "wal_commit_s": (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3,
                    "state_commit_s": sum(s.commitTimeMs for s in p.stateOperators) / 1e3,
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()

"""Statistics, resource probes and the shared run context."""

from __future__ import annotations

import contextlib
import math
import os
import signal
import statistics
import subprocess
import threading
import time
from dataclasses import dataclass

import numpy as np

#: a tail percentile must leave at least this many samples beyond it
TAIL_BEYOND = 10


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile ``p`` with at least ``TAIL_BEYOND`` of ``n``
    samples beyond it, i.e. the largest ``p`` with ``n * (1 - p/100) >=
    TAIL_BEYOND``. None when no percentile at or above the median qualifies
    (``n < 2 * TAIL_BEYOND``): a "tail" below the median is no tail."""
    if n < 2 * TAIL_BEYOND:
        return None
    return min(99, math.floor(100 * (1 - TAIL_BEYOND / n) + 1e-9))


def tail(values: list[float]) -> tuple[float, int | None, int]:
    """(value, percentile, n) under the tail rule; with too few samples the
    maximum is reported and the percentile is None."""
    p = tail_percentile(len(values))
    if p is None:
        return max(values), None, len(values)
    return float(np.percentile(values, p)), p, len(values)


def op_medians(ops: list[tuple[str, float]]) -> dict[str, float]:
    """operation key -> the median of that operation's warm latencies."""
    by_key: dict[str, list[float]] = {}
    for key, dt in ops:
        by_key.setdefault(key, []).append(dt)
    return {key: statistics.median(v) for key, v in by_key.items()}


def median_pass(ops: list[tuple[str, float]]) -> float:
    """The warm pass time with every operation at its median. A slow spell
    of the host that hits one operation of one pass moves this less than it
    moves that pass's wall time."""
    return sum(op_medians(ops).values())


def slowest_op(ops: list[tuple[str, float]]) -> tuple[str, float]:
    """(key, median latency) of the operation that is slowest at its
    median: the step a closed-loop caller waits longest for, measured on
    every warm pass rather than taken from a single sample."""
    return max(op_medians(ops).items(), key=lambda kv: kv[1])


def quartile_spread(values: list[float]) -> float:
    """(Q3 − Q1) / median, quartiles as ``statistics.quantiles(n=4)``."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else math.inf


def dir_bytes(*paths: str) -> int:
    total = 0
    for root in paths:
        for dirpath, _, files in os.walk(root):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(dirpath, f))
                except OSError:  # removed while walking
                    pass
    return total


# -- memory ----------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Σ resident set size over ``root`` and all its descendants (the JVM
    and Spark's Python workers are descendants of the benchmark)."""
    kids = _children()
    todo, total = [root], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            pass
    return total


class RssSampler:
    """Background thread keeping the peak of :func:`tree_rss_bytes`."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._interval = interval_s
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self._interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


def descendants(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.extend(kids.get(pid, []))
        todo.extend(kids.get(pid, []))
    return out


def stop_spark(spark, timeout_s: float = 60) -> None:
    """Stop the session, then the JVM it was launched with, and wait until
    the JVM and every process it started (Spark's Python workers) are gone:
    a plain ``spark.stop()`` leaves the JVM to exit after this process."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gw is None:
        return
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the launcher's JVM exits when its stdin closes
        try:
            proc.wait(timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout_s
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


# -- Spark's live status store -----------------------------------------------------


def spark_write_bytes(spark, lo: float, hi: float) -> int:
    """Bytes Spark tasks wrote to disk (file output + shuffle write + disk
    spill) in stages that completed inside the epoch window ``[lo, hi]``,
    from the status store every SparkContext keeps (no event log needed)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    try:
        jsc.listenerBus().waitUntilEmpty()
    except Exception:  # private API; the store is merely slightly stale
        pass
    jvm = sc._jvm
    seq = jsc.statusStore().stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    total = 0
    for i in range(seq.size()):
        s = seq.apply(i)
        done = s.completionTime()
        if done.isEmpty():
            continue
        t = done.get().getTime() / 1e3
        if lo <= t <= hi:
            total += s.outputBytes() + s.shuffleWriteBytes() + s.diskBytesSpilled()
    return total


# -- the run ---------------------------------------------------------------------


@dataclass
class Ctx:
    """What a workload sees: its seed, time budget, scratch and tracer."""

    workload: str
    seed: int
    seconds: float
    scratch: str
    tracer: object | None  # tracing.Tracer in the traced run, else None
    cores: int

    def path(self, *parts: str) -> str:
        p = os.path.join(self.scratch, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def span(self, name: str):
        """A tracer span, or nothing when the run is untraced."""
        return self.tracer.span(name) if self.tracer is not None else contextlib.nullcontext()

    def note(self, msg: str) -> None:
        print(f"[perfbench] {msg}", flush=True)


class Workload:
    """Interface of a workload; the runner calls, in order: ``generate``
    (untimed), ``register`` (part of set-up), then per pass ``prepare_pass``
    (untimed) and ``one_pass`` (timed; returns ``(key, seconds)`` per
    operation, where ``key`` names the same operation in every pass), and
    finally ``space`` and ``check``. Attributes set by ``generate``:
    ``input_rows`` and ``input_bytes`` that one pass consumes."""

    input_rows: int
    input_bytes: int

    def prepare_pass(self, ctx: Ctx, k: int) -> None:
        pass

    def trace_hooks(self, ctx: Ctx, tracer) -> None:
        """Install the traced run's wrappers around engine entry points."""

    def pass_layers(self, ctx: Ctx, k: int, spans) -> dict[str, float]:
        """Per-layer values of traced pass ``k`` beyond span totals."""
        return {}

    def once_layers(self) -> dict[str, float]:
        """Per-layer values measured once per run (not per pass)."""
        return {}

    def space(self, ctx: Ctx) -> tuple[int, int]:
        """(bytes on disk at the end, bytes of live data): ``space_amp``."""
        raise NotImplementedError


class Clock:
    """Closed-loop op timer that counts failures instead of raising."""

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.attempted = 0
        self.failed = 0

    def op(self, name: str, fn, *args) -> tuple[float, object]:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn(*args)
        except Exception as e:  # noqa: BLE001 - counted, reported, run goes on
            self.failed += 1
            self.ctx.note(f"FAILED {name}: {type(e).__name__}: {str(e)[:300]}")
            out = None
        return time.perf_counter() - t0, out

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.ctx.note(f"MISMATCH {name} {detail}")

"""Repository benchmark: one seeded workload, one closed-loop client.

    python3 perfbench/run.py --workload sql_query --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its inputs from the seed,
builds the engine's session with ``build_spark()`` at ``local[<cores>]``,
times one cold pass and then warm passes for ``--seconds``, checks every
output against a DuckDB recomputation, and prints as its LAST stdout line one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they are
the per-layer ones, measured on traced passes that alternate with untraced
ones (see ``perfbench/README.md``). Everything the run writes lives under a
fresh directory in ``.perfbench_scratch/`` and is removed at exit; the traced
run also leaves its spans in ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "bfs_etl_sep2025_spark"
sys.path.insert(0, HERE)

#: name -> (unit, better) of every end-to-end metric (``--trace 0``)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "first_pass_s": ("s", "lower"),
    "run_s": ("s", "lower"),
    "op_p50_s": ("s", "lower"),
    "op_tail_s": ("s", "lower"),
    "rows_per_s": ("rows/s", "higher"),
    "write_amp": ("bytes/byte", "lower"),
    "space_amp": ("bytes/byte", "lower"),
}

WORKLOADS = ("sql_query", "etl_write")

#: untraced warm passes to time at least, whatever ``--seconds`` says, so
#: that every operation's median is taken over at least two samples
MIN_WARM_PASSES = 2


def per_layer_metrics() -> dict[str, str]:
    """name -> unit of every per-layer metric (``--trace 1``)."""
    from wl_sql import SQL_MIX

    fams = sorted(set(SQL_MIX.values()))
    names = {
        "session.build_s": "s",
        "memory.peak_rss_mb": "MB",
        "registry.build_s": "s",
        "operators.exec_s": "s",
    }
    for f in fams:
        names[f"operators.{f}.build_s"] = "s"
        names[f"operators.{f}.exec_s"] = "s"
    names.update(
        {
            "spark.jobs": "count",
            "spark.stages": "count",
            "spark.tasks": "count",
            "spark.task_run_s": "s",
            "spark.task_cpu_s": "s",
            "spark.gc_s": "s",
            "spark.shuffle_write_bytes": "bytes",
            "spark.spill_bytes": "bytes",
            "spark.core_busy_frac": "frac",
            "spark.driver_gap_s": "s",
            "pipeline.run_s": "s",
            "pipeline.self_s": "s",
            "tasks.sql.statements_s": "s",
            "tasks.sql.execute_s": "s",
            "tasks.sql.statements": "count",
            "merge.run_s": "s",
            "merge.bytes_written": "bytes",
            "merge.partitions_rewritten": "count",
            "csv_copy.execute_s": "s",
            "csv_copy.files_loaded": "count",
            "csv_copy.files_skipped": "count",
            "csv_copy.rows_loaded": "count",
            "ledger.loaded_files_s": "s",
            "ledger.record_s": "s",
            "ledger.skip_ratio": "frac",
            "stream.batches": "count",
            "stream.batch_s": "s",
            "stream.add_batch_s": "s",
            "stream.planning_s": "s",
            "stream.wal_commit_s": "s",
            "stream.state_commit_s": "s",
            "versioned.upsert_s": "s",
            "versioned.upsert_many_s": "s",
            "versioned.optimize_s": "s",
            "versioned.read_s": "s",
            "versioned.commits": "count",
            "versioned.bytes_written": "bytes",
            "versioned.live_dirs": "count",
            "versioned.conflicts": "count",
            "incremental.sync_s": "s",
            "incremental.commit_pending_s": "s",
            "incremental.store_rows": "count",
            "trace.run_s": "s",
            "trace.overhead_s": "s",
        }
    )
    return names


def make_workload(name: str):
    if name == "sql_query":
        from wl_sql import SqlQuery

        return SqlQuery()
    from wl_write import EtlWrite

    return EtlWrite()


def box_info() -> dict:
    mem = None
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem = int(line.split()[1]) * 1024
    return {"mem_total_bytes": mem, "loadavg": _loadavg()}


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _git_commit(root: str = ROOT) -> str | None:
    """The checkout's commit when it is a git work tree (read, not run):
    the loose ref file, else the ref's line in ``packed-refs``."""
    head = os.path.join(root, ".git", "HEAD")
    if not os.path.isfile(head):
        return None
    with open(head) as f:
        ref = f.read().strip()
    if not ref.startswith("ref: "):
        return ref
    ref = ref[5:]
    path = os.path.join(root, ".git", ref)
    if os.path.isfile(path):
        with open(path) as f:
            return f.read().strip()
    packed = os.path.join(root, ".git", "packed-refs")
    if os.path.isfile(packed):
        with open(packed) as f:
            for line in f:
                sha, _, name = line.strip().partition(" ")
                if name == ref:
                    return sha
    return None


def size_session(mem_total: int) -> tuple[int, str]:
    """Cores from the CPU affinity mask; driver heap a quarter of RAM,
    between 1 and 4 GiB (the inputs are sf0.01-sized)."""
    cores = len(os.sched_getaffinity(0))
    gib = max(1, min(4, mem_total // 4 // 2**30))
    return cores, f"{gib}g"


def prepare_env(scratch: str, cores: int, heap: str) -> None:
    """Everything the run and its child processes write goes under
    ``scratch``; Spark's Python workers import the engine from ROOT whatever
    the working directory. Must run before the JVM starts."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
    old = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def measure(ctx, wl, clock) -> dict:
    """Cold pass, then warm passes until ``ctx.seconds`` have passed (the
    pass under way is finished) and, untraced, until ``MIN_WARM_PASSES``
    warm passes are timed. In the traced run warm passes alternate
    untraced / traced."""
    tr = ctx.tracer
    out = {"warm": [], "traced": [], "ops": [], "windows": {}, "layers": {}}
    wl.prepare_pass(ctx, 0)
    if tr is not None:
        tr.enabled = True
    t0 = time.perf_counter()
    wl.one_pass(ctx, 0, clock)
    out["first_pass_s"] = time.perf_counter() - t0
    warm_t0 = time.perf_counter()
    out["warm_epoch"] = [time.time(), None]
    k = 0
    while True:
        k += 1
        traced = tr is not None and k % 2 == 0
        wl.prepare_pass(ctx, k)
        if tr is not None:
            tr.enabled = traced
        e0, t0 = time.time(), time.perf_counter()
        ops = wl.one_pass(ctx, k, clock)
        dt = time.perf_counter() - t0
        if traced:
            out["traced"].append(dt)
            out["windows"][k] = (e0, time.time())
            spans = [s for s in tr.spans if (s.run_id or "").startswith(f"p{k}/")]
            tr.enabled = False
            out["layers"][k] = wl.pass_layers(ctx, k, spans)
        else:
            out["warm"].append(dt)
            out["ops"].extend(ops)
        # the traced run, whose passes alternate, needs one of each kind;
        # the untraced run, a median of every operation over enough passes
        enough = out["traced"] if tr is not None else len(out["warm"]) >= MIN_WARM_PASSES
        if enough and time.perf_counter() - warm_t0 >= ctx.seconds:
            break
    if tr is not None:
        tr.enabled = False
    out["warm_epoch"][1] = time.time()
    return out


def layer_metrics(
    ctx, wl, spark_events, progress, m: dict, session_build_s: float, peak_rss_mb: float
) -> dict:
    from tracing import self_times, spark_window_stats, total_times

    tr = ctx.tracer
    per_pass: list[dict[str, float]] = []
    for k, (e0, e1) in sorted(m["windows"].items()):
        spans = [s for s in tr.spans if (s.run_id or "").startswith(f"p{k}/")]
        vals: dict[str, float] = {}
        for name, t in total_times(spans).items():
            vals[f"{name}_s"] = t
        selfs = self_times(spans)
        if "pipeline.run" in selfs:
            vals["pipeline.self_s"] = selfs["pipeline.run"]
        for name, x in tr.counts.get(f"p{k}", {}).items():
            vals[name] = x
        if spark_events is not None:
            vals.update(spark_window_stats(spark_events, e0, e1, ctx.cores))
        batches = [p for p in progress if e0 <= p["wall"] <= e1]
        if batches:
            vals["stream.batches"] = len(batches)
            for key in ("batch_s", "add_batch_s", "planning_s", "wal_commit_s", "state_commit_s"):
                vals[f"stream.{key}"] = sum(b[key] for b in batches)
        vals.update(m["layers"][k])
        per_pass.append(vals)
    names = per_layer_metrics()
    out = {n: 0.0 for n in names}
    for n in names:
        xs = [p[n] for p in per_pass if n in p]
        if xs:
            out[n] = statistics.median(xs)
    out["session.build_s"] = session_build_s
    out["memory.peak_rss_mb"] = peak_rss_mb
    out.update(wl.once_layers())
    out["trace.run_s"] = statistics.median(m["traced"])
    out["trace.overhead_s"] = out["trace.run_s"] - statistics.median(m["warm"])
    # self-time table of the traced warm passes, for the reader
    spans = [s for s in tr.spans if (s.run_id or "").split("/")[0] in {f"p{k}" for k in m["windows"]}]
    st, tt = self_times(spans), total_times(spans)
    n = max(1, len(m["windows"]))
    for name in sorted(tt, key=lambda x: -st[x]):
        ctx.note(f"layer {name:32s} total {tt[name] / n:8.4f} s/pass  self {st[name] / n:8.4f} s/pass")
    return {n: (out[n], names[n]) for n in names}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/ (run from a checkout)", file=sys.stderr)
        return 2

    from common import (
        Clock, Ctx, RssSampler, median_pass, slowest_op, spark_write_bytes, stop_spark, tail,
    )

    box = box_info()
    cores, heap = size_session(box["mem_total_bytes"])
    scratch = os.path.join(
        ROOT, ".perfbench_scratch", f"{args.workload}-s{args.seed}-{os.getpid()}"
    )
    os.makedirs(scratch)
    spark = None
    try:
        prepare_env(scratch, cores, heap)
        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer()
        ctx = Ctx(args.workload, args.seed, args.seconds, scratch, tracer, cores)
        wl = make_workload(args.workload)

        t0 = time.perf_counter()
        wl.generate(ctx)
        gen_s = time.perf_counter() - t0

        with RssSampler() as rss:
            conf = {
                "spark.sql.warehouse.dir": ctx.path("warehouse"),
                # no /tmp/hsperfdata_<user>: the JVM writes only under scratch
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={ctx.path('tmp')} -XX:-UsePerfData"
                ),
            }
            if tracer is not None:
                from tracing import event_log_conf

                conf.update(event_log_conf(ctx.path("eventlog")))
            t0 = time.perf_counter()
            from bfs_etl_sep2025_spark.session import build_spark

            spark = build_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
            session_build_s = time.perf_counter() - t0
            t1 = time.perf_counter()
            wl.register(ctx, spark)
            setup_s = time.perf_counter() - T_START - gen_s
            ctx.note(
                f"setup {setup_s:.3f} s: interpreter+imports {t0 - T_START - gen_s:.3f}, "
                f"build_spark {session_build_s:.3f}, register {time.perf_counter() - t1:.3f} "
                f"(input generation {gen_s:.3f} s excluded)"
            )

            progress: list[dict] = []
            if tracer is not None:
                from tracing import progress_listener

                spark.streams.addListener(progress_listener(progress))
                wl.trace_hooks(ctx, tracer)
            clock = Clock(ctx)
            m = measure(ctx, wl, clock)
            written = spark_write_bytes(spark, *m["warm_epoch"])
            disk, live = wl.space(ctx)
            t1 = time.perf_counter()
            wl.check(ctx, clock)
            ctx.note(f"checks took {time.perf_counter() - t1:.3f} s (untimed)")
            if tracer is not None:
                tracer.unwrap_all()
            stop_spark(spark)
            spark = None
        events = None
        if tracer is not None:
            from tracing import read_event_log

            events = read_event_log(ctx.path("eventlog"))

        print("[perfbench] box " + json.dumps({
            **box,
            "loadavg_end": _loadavg(),
            "cores": cores,
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "SPARK_GRAFT_DRIVER_MEM": heap,
            "spark": __import__("pyspark").__version__,
            "duckdb": __import__("duckdb").__version__,
            "commit": _git_commit(),
            "gen_s": gen_s,
        }), flush=True)
        ctx.note(f"peak RSS (benchmark + JVM + Python workers) {rss.peak / 2**20:.0f} MB")
        if tracer is not None:
            metrics = layer_metrics(
                ctx, wl, events, progress, m, session_build_s, rss.peak / 2**20
            )
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            dump = os.path.join(ROOT, ".perfbench_out", f"spans-{args.workload}-s{args.seed}.jsonl")
            tracer.dump(dump)
            ctx.note(f"spans written to {os.path.relpath(dump, ROOT)}")
        else:
            run_s = median_pass(m["ops"])
            op_s = [dt for _, dt in m["ops"]]
            slow_key, slow_s = slowest_op(m["ops"])
            tail_v, tail_p, tail_n = tail(op_s)
            ctx.note(f"warm passes (s): {' '.join(f'{x:.3f}' for x in m['warm'])}")
            ctx.note(f"warm ops (s): {' '.join(f'{x:.3f}' for x in op_s)}")
            ctx.note(
                f"{len(m['warm'])} warm passes, {len(m['ops'])} warm ops; op_tail_s is "
                f"{slow_key} at its median; the tail rule gives "
                f"{'p%d' % tail_p if tail_p is not None else 'max'} of n={tail_n} = {tail_v:.4f} s"
            )
            metrics = {
                "setup_s": setup_s,
                "first_pass_s": m["first_pass_s"],
                "run_s": run_s,
                "op_p50_s": statistics.median(op_s),
                "op_tail_s": slow_s,
                "rows_per_s": wl.input_rows / run_s,
                "write_amp": written / len(m["warm"]) / wl.input_bytes,
                "space_amp": disk / live,
            }
            metrics = {n: (v, END_TO_END[n][0]) for n, v in metrics.items()}
        result = {
            "correct": clock.failed == 0,
            "attempted": clock.attempted,
            "failed": clock.failed,
            "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(scratch, ignore_errors=True)
        _rmdir_if_empty(os.path.dirname(scratch))
    print(json.dumps(result), flush=True)
    return 0


def _rmdir_if_empty(path: str) -> None:
    try:
        os.rmdir(path)
    except OSError:
        pass


if __name__ == "__main__":
    sys.exit(main())

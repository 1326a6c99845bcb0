"""The CDC half of ``etl_write``: a CDC stream into a versioned table,
interleaved with incremental document dedup syncs and time-travel reads.

Per pass, on fresh roots:

* a Structured Streaming query (``streaming.jobs.stream_events`` over a
  landing directory, one file per micro-batch, then the stateful
  ``stream_stateful_dedup``) feeds ``VersionedTable.cdc_sink(["user_id"],
  optimize_every=OPTIMIZE_EVERY)``; one operation lands the next event file
  and waits until the stream has processed it;
* one operation syncs the next contiguous document delta with
  ``operators.incremental.sync_batch`` (deferred commits, closed by
  ``commit_pending`` after the last delta) and collects its verdicts;
* one operation, right after each batch, is a time-travel read of the event
  table: ``changes(1, head)`` after the first, ``read(<first batch's
  version>)`` after the second.

The seed fixes the inputs and how batches and syncs interleave. Afterwards every
committed version, every time-travel read and every pass's dedup verdicts are
checked against DuckDB recomputations.
"""

from __future__ import annotations

import contextlib
import os
import shutil

import pandas as pd

import gen
import oracle
from common import Clock, Ctx, Workload, dir_bytes

N_FILES = 2
ROWS_PER_FILE = 400
N_USERS = 200
REPLAY_SHARE = 0.05
N_DELTAS = 1
DOCS_PER_DELTA = 150
OPTIMIZE_EVERY = 2

SNAP_COLS = ["user_id", "event_id", "ts", "event_type", "value", "props"]


def latest_per_user(batch):
    """One row per key (the upsert precondition): the newest event."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        batch.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .select(*SNAP_COLS)
    )


def _canon_events(df: pd.DataFrame) -> pd.DataFrame:
    out = df[SNAP_COLS].copy()
    out["ts"] = pd.to_datetime(out["ts"]).dt.strftime("%Y-%m-%d %H:%M:%S")
    return out.reset_index(drop=True)


class IncrementalCdc(Workload):
    def generate(self, ctx: Ctx) -> None:
        self.inp = gen.cdc_inputs(
            ctx.seed, ctx.path("inputs", "cdc"), N_FILES, ROWS_PER_FILE, N_USERS,
            REPLAY_SHARE, N_DELTAS, DOCS_PER_DELTA,
        )
        self.input_rows = sum(self.inp.event_rows) + sum(self.inp.doc_rows)
        self.input_bytes = self.inp.bytes_total
        # seeded interleaving of event batches and document syncs (each kind
        # keeps its own order); every batch is followed by one time-travel
        # read, so every seed reads the same versions
        r = gen.rng_for(ctx.seed, "cdc-order")
        writes = ["batch"] * N_FILES + ["sync"] * N_DELTAS
        self.plan = []
        for i in r.permutation(len(writes)):
            self.plan.append(writes[i])
            if writes[i] == "batch":
                self.plan.append("read")

    def register(self, ctx: Ctx, spark) -> None:
        from bfs_etl_sep2025_spark.plans.versioned import VersionedTable

        self.spark = spark
        self.VersionedTable = VersionedTable
        self.passes: dict[int, dict] = {}

    def prepare_pass(self, ctx: Ctx, k: int) -> None:
        root = os.path.join(ctx.scratch, "cdc", f"p{k}")
        p = {
            "landing": os.path.join(root, "landing"),
            "ckpt": os.path.join(root, "checkpoint"),
            "events": self.VersionedTable(self.spark, os.path.join(root, "events_vt")),
            "store": self.VersionedTable(self.spark, os.path.join(root, "sig_store")),
            "prefix": {},  # event-table version -> event files it reflects
            "reads": [],  # (kind, args, rows) of the timed time-travel reads
            "verdicts": [],
        }
        os.makedirs(p["landing"], exist_ok=True)
        empty = self.spark.createDataFrame(
            [], "user_id bigint, event_id bigint, ts timestamp, event_type string, "
            "value double, props string",
        )
        p["events"].create(empty)
        p["prefix"][1] = 0
        self.passes[k] = p

    def one_pass(self, ctx: Ctx, k: int, clock: Clock) -> list[tuple[str, float]]:
        from bfs_etl_sep2025_spark.operators import incremental
        from bfs_etl_sep2025_spark.streaming import jobs

        p = self.passes[k]
        vt = p["events"]
        sink = vt.cdc_sink(
            ["user_id"], prepare=latest_per_user, optimize_every=OPTIMIZE_EVERY,
            sort_by=["user_id"], n_buckets=4,
        )
        q = (
            jobs.stream_stateful_dedup(jobs.stream_events(self.spark, p["landing"]), "1 day")
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", p["ckpt"])
            .start()
        )
        landed, synced, reads, pending, ops = 0, 0, 0, [], []
        tr = ctx.tracer
        try:
            for i, kind in enumerate(self.plan):
                if tr is not None:
                    tr.run_id = f"p{k}/{i}/{kind}"
                if kind == "batch":
                    src = self.inp.event_files[landed]
                    landed += 1
                    dt, _ = clock.op(f"batch {landed}", self._land, tr, p, q, src, landed)
                elif kind == "sync":
                    delta = self.inp.doc_deltas[synced]
                    synced += 1
                    close = synced == N_DELTAS
                    dt, _ = clock.op(
                        f"sync {synced}", self._sync, tr, incremental, p, delta, pending, close
                    )
                else:
                    dt, _ = clock.op(f"read {reads}", self._read, tr, p, reads)
                    reads += 1
                ops.append((f"{i}:{kind}", dt))
        finally:
            q.stop()
        return ops

    @staticmethod
    def _op_span(tr, name):
        """Root span of one operation; callback-thread spans hang off it."""
        if tr is None or not tr.enabled:
            return contextlib.nullcontext()
        return _Root(tr, name)

    def _land(self, tr, p, q, src, n_landed) -> None:
        with self._op_span(tr, "cdc.batch"):
            tmp = os.path.join(p["landing"], f".{os.path.basename(src)}")
            shutil.copyfile(src, tmp)
            os.rename(tmp, os.path.join(p["landing"], os.path.basename(src)))
            q.processAllAvailable()
        vt = p["events"]
        for v in range(max(p["prefix"]) + 1, vt.current_version() + 1):
            p["prefix"][v] = n_landed

    def _sync(self, tr, incremental, p, delta, pending, close) -> None:
        with self._op_span(tr, "cdc.sync"):
            docs = self.spark.read.parquet(delta).select("doc_id", "text")
            v = incremental.sync_batch(self.spark, docs, p["store"], pending=pending)
            p["verdicts"].extend(v.collect())
            if close:
                incremental.commit_pending(p["store"], pending, keys=["doc_id"])
                pending.clear()

    def _read(self, tr, p, n) -> None:
        """After the first batch: the change feed since the table was
        created; after the second: a snapshot read of the version the first
        batch committed (time travel past the second upsert and optimize)."""
        vt = p["events"]
        with self._op_span(tr, "cdc.read"):
            if n % 2 == 0:
                head = vt.current_version()
                rows = vt.changes(1, head).toPandas()
                p["reads"].append(("changes", (1, head), rows))
            else:
                first = min(v for v, files in p["prefix"].items() if files == 1)
                rows = vt.read(first).toPandas()
                p["reads"].append(("read", (first,), rows))

    def trace_hooks(self, ctx: Ctx, tr) -> None:
        from bfs_etl_sep2025_spark.operators import incremental
        from bfs_etl_sep2025_spark.plans import versioned

        def conflict(e):
            if isinstance(e, versioned.ConcurrentWriteError):
                tr.count("versioned.conflicts", 1)

        for attr in ("upsert", "upsert_many", "optimize", "read"):
            tr.wrap(versioned.VersionedTable, attr, f"versioned.{attr}", on_error=conflict)
        # both time-travel read paths count as reads
        tr.wrap(versioned.VersionedTable, "changes", "versioned.read")
        tr.wrap(incremental, "sync_batch", "incremental.sync")
        tr.wrap(incremental, "commit_pending", "incremental.commit_pending")

    def pass_layers(self, ctx: Ctx, k: int, spans) -> dict[str, float]:
        p = self.passes.get(k)
        if p is None:
            return {}
        vts = [p["events"], p["store"]]
        live = sum(len(vt._manifest(vt.current_version())["dirs"]) for vt in vts if vt.exists())
        return {
            "versioned.commits": float(sum(vt.current_version() - 1 for vt in vts if vt.exists())),
            "versioned.bytes_written": float(dir_bytes(*[vt.root for vt in vts])),
            "versioned.live_dirs": float(live),
            "incremental.store_rows": float(p["store"].read().count()) if p["store"].exists() else 0.0,
        }

    # -- checks ----------------------------------------------------------------

    def check(self, ctx: Ctx, clock: Clock) -> None:
        from bfs_etl_sep2025_spark import registry

        con = oracle.duck(ctx.path("tmp", "duck"))
        files = self.inp.event_files

        def prefix(n: int) -> pd.DataFrame:
            if n == 0:
                return pd.DataFrame(columns=SNAP_COLS)
            return con.execute(
                f"""
                SELECT {", ".join(SNAP_COLS)} FROM (
                  SELECT *, row_number() OVER (
                    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
                  FROM (SELECT DISTINCT * FROM read_parquet({files[:n]})))
                WHERE rn = 1
                """
            ).fetchdf()

        want = {n: _canon_events(prefix(n)) for n in range(N_FILES + 1)}
        spec = registry.all_specs()["dedup_incremental_minhash"]
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.inp.docs_all}')"
        )
        rescan = con.execute(spec.oracle).fetchdf()
        con.close()
        for k, p in sorted(self.passes.items()):
            vt = p["events"]
            versions = sorted(p["prefix"]) if k == max(self.passes) else [max(p["prefix"])]
            for v in versions:
                _, got = clock.op(f"p{k} read v{v}", lambda v=v: vt.read(v).toPandas())
                if got is not None:
                    ok, why = oracle.same(_canon_events(got), want[p["prefix"][v]])
                    clock.check(f"p{k} v{v} == prefix {p['prefix'][v]}", ok, why)
            clock.check(
                f"p{k} landed every file", max(p["prefix"].values()) == N_FILES,
                f"{p['prefix']}",
            )
            for kind, args, rows in p["reads"]:
                if kind == "read":
                    ok, why = oracle.same(_canon_events(rows), want[p["prefix"][args[0]]])
                else:
                    ok, why = self._changes_ok(rows, want, p["prefix"], *args)
                clock.check(f"p{k} {kind}{args}", ok, why)
            got = pd.DataFrame([r.asDict() for r in p["verdicts"]], columns=list(rescan.columns))
            ok, why = oracle.same(got, rescan)
            clock.check(f"p{k} dedup verdicts == full rescan", ok, why)

    @staticmethod
    def _changes_ok(rows, want, prefix, lo, hi) -> tuple[bool, str]:
        """Replaying the change feed commit by commit onto snapshot(lo)
        gives snapshot(hi), as multisets."""

        def keyed(df):
            return list(map(tuple, df.astype(str).itertuples(index=False, name=None)))

        snap = keyed(want[prefix[lo]])
        for v in sorted(rows["_commit_version"].unique()):
            at = rows[rows["_commit_version"] == v]
            kind = at["_change_type"].to_numpy()
            for r in keyed(_canon_events(at[kind == "delete"])):
                if r not in snap:
                    return False, f"v{v} deletes a row it does not hold: {r}"
                snap.remove(r)
            snap.extend(keyed(_canon_events(at[kind == "insert"])))
        if sorted(snap) != sorted(keyed(want[prefix[hi]])):
            return False, f"v{lo} + changes != v{hi}"
        return True, ""

    def space(self, ctx: Ctx) -> tuple[int, int]:
        """Bytes under the last pass's table roots and checkpoint against the
        bytes of the two tables' live snapshots."""
        p = self.passes[max(self.passes)]
        live = 0
        for vt in (p["events"], p["store"]):
            if vt.exists():
                dirs = vt._manifest(vt.current_version())["dirs"]
                live += dir_bytes(*[os.path.join(vt._data, d) for d in dirs])
        return dir_bytes(p["events"].root, p["store"].root, p["ckpt"]), live


class _Root:
    def __init__(self, tr, name):
        self.tr, self.ctx = tr, tr.span(name)

    def __enter__(self):
        sp = self.ctx.__enter__()
        self.prev, self.tr.root = self.tr.root, sp.id
        return sp

    def __exit__(self, *exc):
        self.tr.root = self.prev
        return self.ctx.__exit__(*exc)


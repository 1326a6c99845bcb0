"""The backfill half of ``etl_write``: the reference's ``s3_data_copy_test``
DAG at scale.

Each pass backfills ``N_DAYS`` daily CSVs through a ``Pipeline`` into a fresh
schema: per logical day, ``CsvCopyTask`` (with its load ledger) appends the
day's file to a landing table, a ``SqlTask`` MERGEs the day's rows into a
day-partitioned fact table, and a second ``SqlTask`` rebuilds a rollup. One
operation is one logical-date tick. A seeded share of every file re-sends
keys from earlier days, so MERGE rewrites older partitions too.

After the timed passes the last pass is replayed: the ledger must skip every
file and the fact table must not change. The fact table must equal a DuckDB
last-write-wins recomputation over the CSV files.
"""

from __future__ import annotations

import os
import re
from datetime import datetime

import gen
import oracle
from common import Clock, Ctx, Workload, dir_bytes

N_DAYS = 2
ROWS_PER_DAY = 1500
LATE_SHARE = 0.15

FILE_FORMAT = {
    "type": "CSV",
    "field_delimiter": ",",
    "skip_header": 1,
    "null_if": ["NULL", "null"],
    "empty_field_as_null": True,
    "field_optionally_enclosed_by": '"',
    "escape_unenclosed_field": "NONE",
    "record_delimiter": "\n",
}

DATA_COLS = [
    ("trans_id", "BIGINT"),
    ("product_id", "BIGINT"),
    ("customer_id", "BIGINT"),
    ("quantity", "INT"),
    ("unit_price", "DOUBLE"),
    ("trans_ts", "TIMESTAMP_NTZ"),
    ("channel", "STRING"),
    ("load_day", "DATE"),
]
FACT_COLS = [c for c, _ in DATA_COLS] + ["trans_date"]

MERGE_SQL = """
MERGE INTO {db}.fact_trans AS t
USING (
  SELECT {cols}, CAST(trans_ts AS DATE) AS trans_date
  FROM {db}.prestg_trans WHERE load_day = DATE '{{{{ ds }}}}'
) AS s
ON t.trans_id = s.trans_id AND t.trans_date = s.trans_date
WHEN MATCHED THEN UPDATE SET product_id = s.product_id,
  customer_id = s.customer_id, quantity = s.quantity,
  unit_price = s.unit_price, channel = s.channel, load_day = s.load_day
WHEN NOT MATCHED THEN INSERT ({fact}) VALUES ({svals})
"""

ROLLUP_SQL = """
CREATE OR REPLACE TRANSIENT TABLE {db}.daily_rollup AS
SELECT trans_date, count(*) AS n_trans, sum(quantity) AS units,
       sum(CAST(unit_price AS DECIMAL(10, 2)) * quantity) AS revenue
FROM {db}.fact_trans GROUP BY trans_date
"""


def _partition_files(ctx: Ctx, stmt: str) -> dict[str, set[tuple[str, int]]]:
    """partition dir -> {(file, bytes)} of a MERGE target, from the disk."""
    m = re.match(r"(?is)\s*MERGE\s+INTO\s+(\w+)\.(\w+)", stmt)
    table = os.path.join(ctx.path("warehouse"), f"{m.group(1)}.db", m.group(2))
    out = {}
    for part in os.listdir(table):
        d = os.path.join(table, part)
        if os.path.isdir(d):
            out[part] = {(f, os.path.getsize(os.path.join(d, f))) for f in os.listdir(d)}
    return out


def _strs(cols: list[str], kind: str) -> str:
    """Every column rendered as text, NULL as ``<null>``, so both engines'
    results compare value for value."""
    t = "STRING" if kind == "spark" else "VARCHAR"
    return ", ".join(f"coalesce(CAST({c} AS {t}), '<null>') AS {c}" for c in cols)


class WarehouseBackfill(Workload):
    def generate(self, ctx: Ctx) -> None:
        self.stage = ctx.path("inputs", "stage")
        self.files = gen.trans_csvs(ctx.seed, self.stage, N_DAYS, ROWS_PER_DAY, LATE_SHARE)
        self.input_rows = sum(self.files.rows_per_file)
        self.input_bytes = self.files.bytes_total
        self.rows_of = dict(zip(self.files.names, self.files.rows_per_file))

    def register(self, ctx: Ctx, spark) -> None:
        self.spark = spark
        self.pipes: dict[int, object] = {}

    def prepare_pass(self, ctx: Ctx, k: int) -> None:
        """Fresh schema, tables, ledger and DAG for pass ``k`` (untimed)."""
        from bfs_etl_sep2025_spark.plans import Pipeline
        from bfs_etl_sep2025_spark.plans.tasks import SqlTask
        from bfs_etl_sep2025_spark.sources import CsvCopyTask

        db = f"wb{k}"
        sp = self.spark
        sp.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
        cols = ", ".join(f"{c} {t}" for c, t in DATA_COLS)
        sp.sql(f"CREATE TABLE {db}.prestg_trans ({cols}, load_utc_ts TIMESTAMP_NTZ) USING parquet")
        sp.sql(
            f"CREATE TABLE {db}.fact_trans ({cols}, trans_date DATE) USING parquet "
            "PARTITIONED BY (trans_date)"
        )
        d0, d1 = self.files.days[0], self.files.days[-1]
        with Pipeline(
            f"warehouse_backfill_{k}",
            schedule="0 7 * * *",
            start_date=d0,
            end_date=datetime(d1.year, d1.month, d1.day, 23, 59),
            catchup=True,
            clock=lambda: datetime(2022, 8, 1, 7, 0, 0),
        ) as p:
            copy = CsvCopyTask(
                "copy_trans",
                table="prestg_trans",
                schema=db,
                stage_path=self.stage,
                files=["trans_{{ ds_nodash }}.csv"],
                file_format=FILE_FORMAT,
                ledger_path=ctx.path("ledger", db),
            )
            merge = SqlTask(
                "merge_fact",
                sql=MERGE_SQL.format(
                    db=db,
                    cols=", ".join(c for c, _ in DATA_COLS),
                    fact=", ".join(FACT_COLS),
                    svals=", ".join(f"s.{c}" for c in FACT_COLS),
                ),
            )
            rollup = SqlTask("rollup", sql=ROLLUP_SQL.format(db=db))
            copy >> merge >> rollup
        self.pipes[k] = p
        self.copy_task = copy

    def one_pass(self, ctx: Ctx, k: int, clock: Clock) -> list[tuple[str, float]]:
        pipe = self.pipes[k]
        ops = []
        for i, tick in enumerate(pipe.ticks()):
            if ctx.tracer is not None:
                ctx.tracer.run_id = f"p{k}/{tick.date().isoformat()}"
            dt, _ = clock.op(f"tick {tick.date()}", pipe.run, self.spark, tick)
            ops.append((f"tick{i}", dt))
        return ops

    def trace_hooks(self, ctx: Ctx, tr) -> None:
        from bfs_etl_sep2025_spark.plans import merge, pipeline, tasks
        from bfs_etl_sep2025_spark.sources import csv_copy, ledger

        def copied(out, args, kwargs, state):
            task = args[0]
            tr.count("csv_copy.files_loaded", len(task.loaded))
            tr.count("csv_copy.rows_loaded", sum(self.rows_of[f] for f in task.loaded))

        def listing(args, kwargs):
            return _partition_files(ctx, args[1])

        def merged(out, args, kwargs, before):
            after = _partition_files(ctx, args[1])
            new = {f for files in after.values() for f in files} - {
                f for files in before.values() for f in files
            }
            tr.count("merge.bytes_written", sum(size for _, size in new))
            tr.count(
                "merge.partitions_rewritten",
                sum(1 for p, files in after.items() if files != before.get(p)),
            )

        tr.wrap(pipeline.Pipeline, "run", "pipeline.run")
        tr.wrap(
            tasks.SqlTask, "statements", "tasks.sql.statements",
            after=lambda out, a, kw, st: tr.count("tasks.sql.statements", len(out)),
        )
        tr.wrap(tasks.SqlTask, "execute", "tasks.sql.execute")
        tr.wrap(merge, "run_merge", "merge.run", before=listing, after=merged)
        tr.wrap(csv_copy.CsvCopyTask, "execute", "csv_copy.execute", after=copied)
        tr.wrap(ledger.LoadLedger, "loaded_files", "ledger.loaded_files")
        tr.wrap(ledger.LoadLedger, "record", "ledger.record")

    def once_layers(self) -> dict[str, float]:
        """The replay is where the ledger earns its keep."""
        return {
            "ledger.skip_ratio": self.replay_skip_ratio,
            "csv_copy.files_skipped": float(self.replay_skipped),
        }

    def _fact(self, db: str):
        return self.spark.sql(
            f"SELECT {_strs(FACT_COLS, 'spark')} FROM {db}.fact_trans"
        ).toPandas()

    def check(self, ctx: Ctx, clock: Clock) -> None:
        con = oracle.duck(ctx.path("tmp", "duck"))
        files = [os.path.join(self.stage, n) for n in self.files.names]
        duck_type = {"STRING": "VARCHAR", "TIMESTAMP_NTZ": "TIMESTAMP"}
        types = ", ".join(f"'{c}': '{duck_type.get(t, t)}'" for c, t in DATA_COLS)
        want = con.execute(
            f"""
            WITH raw AS (
              SELECT * FROM read_csv({files}, header = true, delim = ',',
                quote = '"', nullstr = ['NULL', 'null', ''],
                columns = {{{types}}})
            ), last AS (
              SELECT *, CAST(trans_ts AS DATE) AS trans_date,
                row_number() OVER (PARTITION BY trans_id ORDER BY load_day DESC) AS rn
              FROM raw
            )
            SELECT {_strs(FACT_COLS, 'duck')} FROM last WHERE rn = 1
            """
        ).fetchdf()
        con.close()
        k = max(self.pipes)
        db = f"wb{k}"
        _, got = clock.op(f"fact {db}", self._fact, db)
        if got is not None:
            ok, why = oracle.same(got, want)
            clock.check(f"fact {db} == last-write-wins", ok, why)
        # replay the last pass: the ledger must skip every file
        landed = self.spark.table(f"{db}.prestg_trans").count()
        skipped = 0
        tr = ctx.tracer
        if tr is not None:
            tr.enabled = True
        for tick in self.pipes[k].ticks():
            if tr is not None:
                tr.run_id = f"replay/{tick.date().isoformat()}"
            clock.op(f"replay {tick.date()}", self.pipes[k].run, self.spark, tick)
            skipped += len(self.copy_task.skipped)
            clock.check(f"replay {tick.date()} loads nothing", not self.copy_task.loaded)
        if tr is not None:
            tr.enabled = False
        self.replay_skipped = skipped
        self.replay_skip_ratio = skipped / len(self.files.names)
        clock.check(
            "replay adds no rows",
            self.spark.table(f"{db}.prestg_trans").count() == landed,
        )
        _, got = clock.op("fact after replay", self._fact, db)
        if got is not None:
            ok, why = oracle.same(got, want)
            clock.check("fact after replay == last-write-wins", ok, why)

    def space(self, ctx: Ctx) -> tuple[int, int]:
        """Landing, fact, rollup and ledger bytes against the bytes of the
        live fact table, for the last pass's schema."""
        k = max(self.pipes)
        wh = ctx.path("warehouse", f"wb{k}.db")
        fact = dir_bytes(os.path.join(wh, "fact_trans"))
        return dir_bytes(wh) + dir_bytes(ctx.path("ledger", f"wb{k}")), fact


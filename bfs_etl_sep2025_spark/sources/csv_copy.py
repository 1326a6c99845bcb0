"""CsvCopyTask — native ``COPY INTO <table> FROM @stage`` semantics.

The reference's entire ingestion surface is one operator call
(``dags/s3_data_copy_test.py:32-41``): load named, logical-date-templated
CSV files from an external stage into a pre-created table, parsing per a
Snowflake FILE_FORMAT clause, skipping files already loaded. This module
rebuilds each piece:

- stage        -> a directory/URI prefix (S3 on a real cluster, local in test)
- FILE_FORMAT  -> :func:`map_file_format`, the option-by-option mapping of
                  every format option the reference uses
                  (``dags/s3_data_copy_test.py:38-40``) onto
                  ``DataFrameReader.csv`` options, plus the multi-valued
                  NULL_IF gap which Spark cannot express natively (one
                  nullValue only) -> post-read sentinel map.
- load history -> :class:`~bfs_etl_sep2025_spark.sources.ledger.LoadLedger`.
- audit column -> ``load_utc_ts`` from the pipeline's injectable clock
                  (the reference's tables carry the same column,
                  ``dags/dev_db_test.sql:1``).

Scale notes (100 TB): the executor-parallel CSV scan is the data path —
one Spark task per file split; the driver only renders names and consults
the ledger. Appends go through ``insertInto`` so the target table's own
partitioning governs layout. File-per-run naming preserves the reference's
manual partition pruning (each run reads exactly its own file).
"""

from __future__ import annotations

from pathlib import Path
from typing import TYPE_CHECKING, Any

from bfs_etl_sep2025_spark.plans.tasks import RunContext, Task

if TYPE_CHECKING:
    from bfs_etl_sep2025_spark.plans.pipeline import Pipeline

import re

#: one `key = value` item of a FILE_FORMAT clause; value is a parenthesized
#: list, a quoted string, or a bare token. The reference's own clause mixes
#: comma- and whitespace-separation (``dags/s3_data_copy_test.py:38-40``),
#: so separators are not relied upon.
_FMT_ITEM = re.compile(
    r"(?P<key>\w+)\s*=\s*(?P<val>\([^)]*\)|'(?:[^']|'')*'|[^\s,()]+)",
    re.DOTALL,
)
_QUOTED = re.compile(r"'((?:[^']|'')*)'")


def parse_file_format_clause(clause: str) -> dict[str, Any]:
    """Parse a Snowflake ``FILE_FORMAT = (...)`` clause string into the
    option dict :func:`map_file_format` takes — so a reference DAG's
    verbatim ``file_format='''(type = 'CSV', ...)'''`` argument works
    unchanged. Quoted values unescape ``''``; parenthesized values become
    lists (the multi-valued NULL_IF)."""
    body = clause.strip()
    if body.startswith("(") and body.endswith(")"):
        body = body[1:-1]
    out: dict[str, Any] = {}
    for m in _FMT_ITEM.finditer(body):
        key, val = m.group("key"), m.group("val").strip()
        if val.startswith("("):
            out[key] = [q.replace("''", "'") for q in _QUOTED.findall(val)]
        elif val.startswith("'"):
            out[key] = val[1:-1].replace("''", "'")
        else:
            out[key] = val
    return out


def map_file_format(options: dict[str, Any]) -> tuple[dict[str, Any], list[str]]:
    """Map Snowflake-style CSV format options onto ``DataFrameReader.csv``
    options. Returns (reader_options, null_sentinels): sentinels beyond the
    single ``nullValue`` Spark supports are applied as a post-read map."""
    reader: dict[str, Any] = {"mode": "PERMISSIVE"}
    sentinels: list[str] = []
    for raw_key, val in options.items():
        key = raw_key.strip().lower()
        if key == "type":
            if str(val).strip().lower() != "csv":
                raise ValueError(f"unsupported stage file type: {val!r}")
        elif key == "field_delimiter":
            reader["sep"] = str(val)
        elif key == "skip_header":
            # Snowflake skips N physical lines; with an explicit target
            # schema, header=True is exactly N=1 (names are discarded).
            n = int(val)
            if n not in (0, 1):
                raise ValueError("skip_header > 1 not supported")
            reader["header"] = n == 1
        elif key == "null_if":
            vals = [str(v) for v in (val if isinstance(val, (list, tuple)) else [val])]
            if vals:
                reader["nullValue"] = vals[0]
                sentinels.extend(vals[1:])
        elif key == "empty_field_as_null":
            if _truthy(val):
                sentinels.append("")
        elif key == "field_optionally_enclosed_by":
            if str(val).upper() != "NONE":
                reader["quote"] = str(val)
        elif key == "escape_unenclosed_field":
            if str(val).upper() == "NONE":
                reader["escape"] = "\u0000"  # disable escaping entirely
            else:
                reader["escape"] = str(val)
        elif key == "record_delimiter":
            reader["lineSep"] = str(val)
        elif key == "encoding":
            reader["encoding"] = str(val)
        else:
            raise ValueError(f"unmapped file_format option: {raw_key!r}")
    return reader, sentinels


def _truthy(val: Any) -> bool:
    return str(val).strip().lower() in ("true", "1", "yes")


class CsvCopyTask(Task):
    """Bulk-load staged CSV files into a pre-created catalog table."""

    def __init__(
        self,
        task_id: str,
        table: str,
        stage_path: str,
        files: list[str],
        file_format: dict[str, Any] | str | None = None,
        schema: str | None = None,
        ledger_path: str | None = None,
        audit_column: str = "load_utc_ts",
        pipeline: Pipeline | None = None,
        **kw: Any,
    ) -> None:
        super().__init__(task_id, pipeline=pipeline, **kw)
        self.table = table
        self.stage_path = stage_path
        self.files = files
        if isinstance(file_format, str):  # verbatim Snowflake clause string
            file_format = parse_file_format_clause(file_format)
        self.file_format = dict(file_format or {})
        self.schema = schema
        self.ledger_path = ledger_path
        self.audit_column = audit_column
        self.loaded: list[str] = []   # per-run: files actually ingested
        self.skipped: list[str] = []  # per-run: ledger-deduped files

    def _qualified(self) -> str:
        return f"{self.schema}.{self.table}" if self.schema else self.table

    def execute(self, ctx: RunContext) -> None:
        from bfs_etl_sep2025_spark.plans.locks import table_write_lock

        # the ledger read, the insert and the record form one critical
        # section per table: two copies of one file into one table (a
        # parallel Pipeline run) must not both see it unloaded
        with table_write_lock(self._qualified()):
            self._copy(ctx)

    def _copy(self, ctx: RunContext) -> None:
        from pyspark.sql import functions as F

        from bfs_etl_sep2025_spark.sources.ledger import LoadLedger

        spark = ctx.spark
        if self.schema:
            spark.sql(f"CREATE DATABASE IF NOT EXISTS {self.schema}")
        target = self._qualified()
        # Target must pre-exist (COPY INTO semantics: schema comes from the
        # table, never inferred from files).
        target_schema = spark.table(target).schema

        names = [ctx.render(f) for f in self.files]
        ledger = (
            LoadLedger(spark, self.ledger_path) if self.ledger_path else None
        )
        already = ledger.loaded_files(target) if ledger else set()
        todo = [n for n in names if n not in already]
        self.skipped = [n for n in names if n in already]
        self.loaded = []
        if not todo:
            return

        reader_opts, sentinels = map_file_format(self.file_format)
        data_cols = [f for f in target_schema.fields if f.name != self.audit_column]
        read_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in data_cols)
        paths = [str(Path(self.stage_path) / n) for n in todo]
        df = spark.read.schema(read_schema).options(**reader_opts).csv(paths)
        # Multi-valued NULL_IF post-map (Spark supports one nullValue; the
        # remaining sentinels nullify string columns here — non-string
        # columns already failed the typed parse into NULL).
        if sentinels:
            for f in data_cols:
                if f.dataType.simpleString() == "string":
                    df = df.withColumn(
                        f.name,
                        F.when(F.col(f.name).isin(sentinels), None).otherwise(
                            F.col(f.name)
                        ),
                    )
        now = ctx.clock()
        if any(f.name == self.audit_column for f in target_schema.fields):
            df = df.withColumn(
                self.audit_column,
                F.lit(now.isoformat(sep=" ")).cast("timestamp_ntz"),
            )
        # insertInto matches by POSITION: reorder to the target's declared
        # column order so a mid-schema audit column can't silently land data
        # in the wrong columns (ADVICE r01) — withColumn appended it last.
        df = df.select([f.name for f in target_schema.fields if f.name in df.columns])
        df.write.insertInto(target, overwrite=False)
        if ledger:
            ledger.record(target, todo, now)
        self.loaded = todo

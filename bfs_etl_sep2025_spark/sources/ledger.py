"""Load ledger: file-level ingestion idempotence.

Snowflake's ``COPY INTO`` silently skips files already recorded in its load
history; the reference *depends* on that — its ingestion DAG backfills with
``catchup=True`` (``dags/s3_data_copy_test.py:29``), so any re-run would
double-load without it. Spark has no such history, so the engine keeps a
tiny parquet ledger ``(table_name, file_name, loaded_at)`` (SURVEY §4.3).

The ledger is a directory of parquet part files, read and appended on the
driver with pyarrow: a handful of rows per run never pays for Spark jobs.
Each ``record`` writes one hidden temp file and atomically renames it to
its own ``part-<uuid>.parquet``, so concurrent writers never share a file
and an interrupted write leaves only a hidden file, which pyarrow and Spark
readers both skip (as they skip Spark's ``_SUCCESS`` and ``.crc`` files —
ledgers written by ``DataFrameWriter.parquet`` read the same).

Scale notes: the ledger grows by one row per (table, file) — even at 100 TB
ingested that is thousands of rows, and one small file per load. On object
stores without atomic rename, point this at a transactional table format
(Delta/Iceberg — jars not in this image).
"""

from __future__ import annotations

import os
import uuid
from datetime import datetime
from typing import TYPE_CHECKING

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

if TYPE_CHECKING:
    from pyspark.sql import SparkSession

_SCHEMA = "table_name string, file_name string, loaded_at timestamp_ntz"
_ARROW_SCHEMA = pa.schema(
    [
        ("table_name", pa.string()),
        ("file_name", pa.string()),
        ("loaded_at", pa.timestamp("us")),  # no zone: Spark's timestamp_ntz
    ]
)


class LoadLedger:
    """``spark`` stays in the signature for callers; the ledger itself runs
    no Spark job."""

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.path = path

    def loaded_files(self, table: str) -> set[str]:
        if not os.path.isdir(self.path):  # first use
            return set()
        rows = (
            ds.dataset(self.path, schema=_ARROW_SCHEMA, format="parquet")
            .to_table(
                columns=["file_name"],
                filter=ds.field("table_name") == table,
            )
            .column("file_name")
            .to_pylist()
        )
        return set(rows)

    def record(self, table: str, files: list[str], loaded_at: datetime) -> None:
        if not files:
            return
        rows = pa.table(
            {
                "table_name": [table] * len(files),
                "file_name": files,
                "loaded_at": [loaded_at] * len(files),
            },
            schema=_ARROW_SCHEMA,
        )
        os.makedirs(self.path, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self.path, f".{name}.tmp")
        pq.write_table(rows, tmp)
        os.replace(tmp, os.path.join(self.path, name))

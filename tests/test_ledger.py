"""COPY INTO load ledger (sources/ledger.py): the driver-side pyarrow reader
and writer keep the parquet layout Spark's writer produced, both ways."""

from __future__ import annotations

from datetime import datetime

from bfs_etl_sep2025_spark.sources.ledger import _SCHEMA, LoadLedger

T0 = datetime(2022, 7, 13, 7, 0, 0)
T1 = datetime(2022, 7, 14, 7, 0, 0, 123456)


def _spark_rows(spark, path):
    return sorted(
        tuple(r) for r in spark.read.schema(_SCHEMA).parquet(path).collect()
    )


def test_reads_ledger_written_by_spark(spark, tmp_path):
    """Two appends by ``DataFrameWriter.parquet`` (part files plus
    ``_SUCCESS`` and ``.crc`` side files) read back through pyarrow."""
    path = str(tmp_path / "ledger")
    for rows in (
        [("db.a", "f1.csv", T0), ("db.b", "f1.csv", T0)],
        [("db.a", "f2.csv", T1)],
    ):
        spark.createDataFrame(rows, _SCHEMA).write.mode("append").parquet(path)
    ledger = LoadLedger(spark, path)
    assert ledger.loaded_files("db.a") == {"f1.csv", "f2.csv"}
    assert ledger.loaded_files("db.b") == {"f1.csv"}
    assert ledger.loaded_files("db.c") == set()
    # a record on top of the Spark-written files reads back both ways
    ledger.record("db.b", ["f3.csv"], T1)
    assert ledger.loaded_files("db.b") == {"f1.csv", "f3.csv"}
    assert _spark_rows(spark, path) == sorted(
        [
            ("db.a", "f1.csv", T0),
            ("db.b", "f1.csv", T0),
            ("db.a", "f2.csv", T1),
            ("db.b", "f3.csv", T1),
        ]
    )


def test_recorded_rows_read_back_through_spark(spark, tmp_path):
    """``record`` writes ``table_name, file_name, loaded_at timestamp_ntz``
    that Spark reads with the ledger schema, value for value."""
    path = str(tmp_path / "ledger")
    ledger = LoadLedger(spark, path)
    assert ledger.loaded_files("db.a") == set()  # no directory yet
    ledger.record("db.a", ["f1.csv", "f2.csv"], T0)
    ledger.record("db.a", [], T1)  # nothing loaded, nothing written
    ledger.record("db.b", ["f'3.csv"], T1)
    assert _spark_rows(spark, path) == sorted(
        [
            ("db.a", "f1.csv", T0),
            ("db.a", "f2.csv", T0),
            ("db.b", "f'3.csv", T1),
        ]
    )
    df = spark.read.parquet(path)  # inferred, not imposed
    assert df.schema.simpleString() == (
        "struct<table_name:string,file_name:string,loaded_at:timestamp_ntz>"
    )


def test_interrupted_record_is_ignored(spark, tmp_path):
    """A hidden temp file left by a ``record`` cut short before its rename
    is skipped by both readers."""
    ledger_dir = tmp_path / "ledger"
    ledger = LoadLedger(spark, str(ledger_dir))
    ledger.record("db.a", ["f1.csv"], T0)
    (ledger_dir / ".part-0123.parquet.tmp").write_bytes(b"PAR1 truncated")
    assert ledger.loaded_files("db.a") == {"f1.csv"}
    assert _spark_rows(spark, str(ledger_dir)) == [("db.a", "f1.csv", T0)]

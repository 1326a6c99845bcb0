"""Shared pytest fixtures: one warm local SparkSession + a DuckDB oracle.

The parity fixture mirrors the driver's correctness gate (row-count + schema
+ order-insensitive value comparison between the Spark query and its DuckDB
oracle SQL at sf0.01) so every oracle mismatch is caught locally before a
round's verify runs.
"""

from __future__ import annotations

import os
import sys
import uuid
from contextlib import contextmanager
from types import SimpleNamespace

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bfs_etl_sep2025_spark.session import build_spark
from bfs_etl_sep2025_spark.tables import TABLES

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    warehouse = tmp_path_factory.mktemp("spark-warehouse")
    spark = build_spark(
        app_name="bfs-etl-tests",
        shuffle_partitions=8,
        extra_conf={
            "spark.sql.warehouse.dir": str(warehouse),
            # every barrier_filter call site (graph bitmaps, similarity
            # sweeps) runtime-asserts on EVERY suite run that Catalyst did
            # not push the heavy predicate into a nested-loop join
            # condition — the Spark-upgrade tripwire is always live in CI,
            # not only in the two dedicated barrier tests (ADVICE r5).
            "spark.bfs.debug.planAssert": "true",
        },
    )
    yield spark


@contextmanager
def spark_jobs(spark):
    """Count the Spark jobs a block launches: the block runs in its own job
    group (AQE's query-stage jobs inherit it), and ``.n`` is read once the
    listener bus has delivered every job event. Usage::

        with spark_jobs(spark) as jobs:
            ...
        assert jobs.n <= 9
    """
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    out = SimpleNamespace(n=None)
    sc.setJobGroup(group, group)
    try:
        yield out
    finally:
        sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        out.n = len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_ORACLE}/{t}.parquet')"
        )
    yield con
    con.close()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive canonical form: columns sorted by name, rows sorted
    by every column's string rendering (floats pre-rounded by the queries
    themselves — the harness does not mask precision bugs)."""
    df = df.reindex(sorted(df.columns), axis=1)
    key = df.astype(str)
    order = key.sort_values(by=list(df.columns)).index
    return df.loc[order].reset_index(drop=True)


def assert_parity(spark, duck, spec, sf_dir: str = SF_ORACLE) -> None:
    """Run one registered QuerySpec both ways and compare like the driver."""
    got = spec.fn(spark, sf_dir).toPandas()
    want = duck.execute(spec.oracle).fetchdf()
    assert sorted(got.columns) == sorted(want.columns), (
        f"{spec.name}: schema mismatch spark={sorted(got.columns)} "
        f"duck={sorted(want.columns)}"
    )
    assert len(got) == len(want), (
        f"{spec.name}: row count spark={len(got)} duck={len(want)}"
    )
    g, w = _canon(got), _canon(want)
    for col in g.columns:
        # Strict string equality — the toughest plausible reading of the
        # driver's value-hash. Bitwise-equal doubles render identically, so
        # queries must be engine-exact by construction, never "close".
        gs, ws = g[col], w[col]
        ok = gs.astype(str) == ws.astype(str)
        bad = (~ok).to_numpy().nonzero()[0]
        assert len(bad) == 0, (
            f"{spec.name}: column {col!r} mismatch at rows {bad[:5]}:\n"
            f"spark={gs.iloc[bad[:5]].tolist()}\nduck ={ws.iloc[bad[:5]].tolist()}"
        )

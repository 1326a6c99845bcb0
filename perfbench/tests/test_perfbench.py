"""Tests of the benchmark itself (no Spark session is started).

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import common  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from tracing import Span, self_times, spark_window_stats, SparkEvents, union_length  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _make_inputs(seed: int, out: str) -> None:
    gen.tpch_tables(seed, os.path.join(out, "sf"))
    gen.trans_csvs(seed, os.path.join(out, "stage"), 3, 200, 0.15)
    gen.cdc_inputs(seed, os.path.join(out, "cdc"), 2, 100, 50, 0.05, 2, 40)


def _files(root: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, fs in os.walk(root)
        for f in fs
    )


def test_same_seed_gives_identical_inputs_other_seed_differs(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    _make_inputs(7, a)
    _make_inputs(7, b)
    _make_inputs(8, c)
    names = _files(a)
    assert names and names == _files(b) == _files(c)
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert mismatch == [] and errors == []
    _, mismatch, _ = filecmp.cmpfiles(a, c, names, shallow=False)
    assert set(mismatch) == set(names) - {"sf/region.parquet", "sf/nation.parquet"}


def test_late_rows_update_earlier_keys_and_are_unique_per_file(tmp_path):
    files = gen.trans_csvs(3, str(tmp_path), 3, 200, 0.15)
    seen: set[str] = set()
    for i, name in enumerate(files.names):
        with open(tmp_path / name) as f:
            keys = [line.split(",", 1)[0] for line in f.read().splitlines()[1:]]
        assert len(keys) == len(set(keys)) == 200
        late = [k for k in keys if k in seen]
        assert len(late) == (0 if i == 0 else 30)
        seen.update(keys)


def _span(i, start, end, parent=None, name="x"):
    return Span(i, name, start, end, parent, "p1/op")


def test_self_time_nested_spans():
    spans = [
        _span(1, 0.0, 10.0, name="outer"),
        _span(2, 1.0, 4.0, 1, name="mid"),
        _span(3, 2.0, 3.0, 2, name="inner"),
    ]
    st = self_times(spans)
    assert st["outer"] == pytest.approx(7.0)
    assert st["mid"] == pytest.approx(2.0)
    assert st["inner"] == pytest.approx(1.0)


def test_self_time_overlapping_and_escaping_children():
    # two children overlap each other (a callback thread beside the caller),
    # one runs past the parent's end: only the covered part of the parent
    # counts, once
    spans = [
        _span(1, 0.0, 10.0, name="outer"),
        _span(2, 2.0, 6.0, 1, name="a"),
        _span(3, 5.0, 8.0, 1, name="b"),
        _span(4, 9.0, 12.0, 1, name="c"),
    ]
    st = self_times(spans)
    assert st["outer"] == pytest.approx(10.0 - (6.0 + 1.0))
    assert st["a"] == pytest.approx(4.0)
    assert st["c"] == pytest.approx(3.0)


def test_union_length():
    assert union_length([]) == 0
    assert union_length([(0, 1), (0.5, 2), (3, 4), (3.5, 3.6)]) == pytest.approx(3.0)


@pytest.mark.parametrize(
    "n, p",
    [(1, None), (10, None), (19, None), (20, 50), (25, 60), (100, 90), (1000, 99), (10**6, 99)],
)
def test_tail_percentile_rule(n, p):
    assert common.tail_percentile(n) == p
    if p is not None:
        assert n * (1 - p / 100) >= common.TAIL_BEYOND - 1e-9
        assert n * (1 - (p + 1) / 100) < common.TAIL_BEYOND or p == 99


def test_tail_reports_value_percentile_and_count():
    xs = [float(i) for i in range(1, 101)]
    value, p, n = common.tail(xs)
    assert (p, n) == (90, 100)
    assert value == pytest.approx(np.percentile(xs, 90))
    assert sum(x > value for x in xs) >= common.TAIL_BEYOND
    value, p, n = common.tail([1.0, 5.0, 2.0])
    assert (value, p, n) == (5.0, None, 3)


def test_median_pass_takes_every_operation_at_its_median():
    # pass 3 hit a slow spell on "b" only; passes 1 and 2 set b's median
    ops = [("a", 1.0), ("b", 2.0), ("a", 1.2), ("b", 2.2), ("a", 1.1), ("b", 9.0)]
    assert common.median_pass(ops) == pytest.approx(1.1 + 2.2)
    assert common.median_pass([("a", 3.0)]) == 3.0
    # the slowest operation at its median, not the single slowest sample
    assert common.slowest_op(ops) == ("b", pytest.approx(2.2))


def test_spark_window_stats_driver_gap_and_busy_fraction():
    ev = SparkEvents(
        jobs=[(0.5, 2.0), (1.5, 3.0), (6.0, 7.0), (20.0, 21.0)],
        stages=[2.0, 3.0, 7.0, 21.0],
        tasks=[
            {"end": 2.0, "run_s": 4.0, "cpu_s": 3.0, "gc_s": 0.1,
             "shuffle_write_bytes": 10, "spill_bytes": 0},
            {"end": 7.0, "run_s": 2.0, "cpu_s": 1.0, "gc_s": 0.0,
             "shuffle_write_bytes": 5, "spill_bytes": 1},
            {"end": 21.0, "run_s": 9.0, "cpu_s": 9.0, "gc_s": 0.0,
             "shuffle_write_bytes": 99, "spill_bytes": 0},
        ],
    )
    s = spark_window_stats(ev, 1.0, 11.0, cores=2)
    assert s["spark.jobs"] == 3 and s["spark.stages"] == 3 and s["spark.tasks"] == 2
    assert s["spark.task_run_s"] == pytest.approx(6.0)
    assert s["spark.shuffle_write_bytes"] == 15
    assert s["spark.core_busy_frac"] == pytest.approx(6.0 / (10.0 * 2))
    # jobs cover [1, 3] and [6, 7] of the 10 s window
    assert s["spark.driver_gap_s"] == pytest.approx(10.0 - 3.0)


def test_metric_names_and_units_are_well_formed():
    for name in list(run.END_TO_END) + list(run.per_layer_metrics()):
        assert NAME.match(name), name
    units = [u for u, _ in run.END_TO_END.values()] + list(run.per_layer_metrics().values())
    for unit in units:
        assert re.match(r"^[A-Za-z0-9_/%.-]{1,16}$", unit), unit


def test_benchmark_json_lists_exactly_what_the_command_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert spec["paths"] == ["perfbench"]
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_metrics()
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_sql_mix_families_match_the_registry():
    sys.path.insert(0, ROOT)
    from bfs_etl_sep2025_spark import registry

    import wl_sql

    specs = registry.all_specs()
    for name, family in wl_sql.SQL_MIX.items():
        assert specs[name].family == family
        assert specs[name].oracle is not None


def test_pick_mix_weights_families_and_queries_by_cost():
    import wl_sql

    def q(fam, warm, **kw):
        return {"family": fam, "warm_s": warm, "oracle_ok": True, "python_udf": False, **kw}

    profile = {"queries": {
        # "joins": 6 s of 8 s -> 3 of 4 picks, at 1, 3 and 5 s along 0.5+0.5+5;
        # j_c lies under two of them and is picked once
        "j_a": q("joins", 0.5), "j_b": q("joins", 0.5), "j_c": q("joins", 5.0),
        # "sql": 2 s -> 1 pick, at 1 s along 0.4+0.6+1.0
        "s_a": q("sql", 0.4), "s_b": q("sql", 0.6), "s_c": q("sql", 1.0),
        "s_udf": q("sql", 9.0, python_udf=True),
        "s_bad": q("sql", 9.0, oracle_ok=False),
        "other": q("graph", 9.0),
    }}
    # ties sort by name, so the 1 s point falls on j_b, not j_a
    assert wl_sql.pick_mix(profile, picks=4) == {"j_b": "joins", "j_c": "joins", "s_b": "sql"}


def test_bare_directory_exits_nonzero_without_result(tmp_path):
    """Without the engine package beside it the command refuses to run."""
    import shutil
    import subprocess

    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "sql_query", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_git_commit_reads_loose_and_packed_refs(tmp_path):
    git = tmp_path / ".git"
    (git / "refs" / "heads").mkdir(parents=True)
    (git / "HEAD").write_text("ref: refs/heads/main\n")
    (git / "packed-refs").write_text(
        "# pack-refs with: peeled fully-peeled sorted\n"
        "1111111111111111111111111111111111111111 refs/heads/other\n"
        "2222222222222222222222222222222222222222 refs/heads/main\n"
    )
    assert run._git_commit(str(tmp_path)) == "2" * 40
    (git / "refs" / "heads" / "main").write_text("3" * 40 + "\n")
    assert run._git_commit(str(tmp_path)) == "3" * 40
    assert run._git_commit(str(tmp_path / "nowhere")) is None

"""Per-query cost profile of the registry's SQL-surface families.

    python3 perfbench/profile_sql.py [--seed 1] [--reps 3] [--out .perfbench_out/sql_profile.json]

Run from the root of a checkout. Builds the ``sql_query`` workload's inputs
and session exactly as ``run.py`` does, then times every registered query of
the families in ``wl_sql.FAMILIES``: one cold run, then ``--reps`` warm runs
of build (the query function) plus ``noop`` materialisation, reporting the
warm median. Each query is also checked against its DuckDB oracle and its
executed plan is searched for Python-UDF operators. The ``sql_query`` mix is
chosen by ``wl_sql.pick_mix`` from the committed ``perfbench/sql_profile.json``;
copying a new profile over it changes the mix, i.e. makes a new benchmark.
Scratch lives under ``.perfbench_scratch/`` and is removed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

#: physical operators that run Python code in Spark's Python workers
PYTHON_OPS = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
              "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "PythonUDTF",
              "AggregateInPandas", "WindowInPandas")


def _cpu_model() -> str:
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                return line.split(":", 1)[1].strip()
    return "unknown"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--out", default=os.path.join(ROOT, ".perfbench_out", "sql_profile.json"))
    args = ap.parse_args()

    import gen
    import oracle
    import run
    from common import Ctx, stop_spark
    from wl_sql import FAMILIES

    box = run.box_info()
    cores, heap = run.size_session(box["mem_total_bytes"])
    scratch = os.path.join(ROOT, ".perfbench_scratch", f"profile-{os.getpid()}")
    os.makedirs(scratch)
    spark = None
    try:
        run.prepare_env(scratch, cores, heap)
        ctx = Ctx("sql_query", args.seed, 0, scratch, None, cores)
        sf = ctx.path("inputs", "sf")
        gen.tpch_tables(args.seed, sf)
        from bfs_etl_sep2025_spark import registry, tables
        from bfs_etl_sep2025_spark.session import build_spark

        spark = build_spark(app_name="perfbench-profile", extra_conf={
            "spark.sql.warehouse.dir": ctx.path("warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.path('tmp')} -XX:-UsePerfData",
        })
        tables.register_views(spark, sf)
        con = oracle.duck(ctx.path("tmp", "duck"))
        for t in gen.TABLE_ROWS:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

        queries = {}
        specs = [s for s in registry.all_specs().values() if s.family in FAMILIES]
        for spec in specs:
            rec = {"family": spec.family}
            try:
                reps = []
                for _ in range(1 + args.reps):
                    t0 = time.perf_counter()
                    df = spec.fn(spark, sf)
                    t1 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    reps.append((t1 - t0, time.perf_counter() - t1))
                plan = df._jdf.queryExecution().executedPlan().toString()
                rec["cold_s"] = round(sum(reps[0]), 4)
                rec["build_s"] = round(statistics.median(b for b, _ in reps[1:]), 4)
                rec["exec_s"] = round(statistics.median(e for _, e in reps[1:]), 4)
                rec["warm_s"] = round(statistics.median(b + e for b, e in reps[1:]), 4)
                rec["python_udf"] = any(op in plan for op in PYTHON_OPS)
                ok, why = oracle.same(spec.fn(spark, sf).toPandas(), con.execute(spec.oracle).fetchdf())
                rec["oracle_ok"] = ok
                if not ok:
                    rec["error"] = why
            except Exception as e:  # noqa: BLE001 - recorded; such a query is never picked
                rec["error"] = f"{type(e).__name__}: {str(e)[:200]}"
            queries[spec.name] = rec
            print(f"{spec.family:11s} {spec.name:34s} "
                  + (f"warm {rec['warm_s']:.3f} s" if "warm_s" in rec else "")
                  + (f"  {rec['error']}" if "error" in rec else ""), flush=True)
        con.close()
        doc = {
            "about": "warm seconds per registered query (median of reps after one cold run), "
                     "build = query function, exec = noop materialisation; sql_query inputs",
            "seed": args.seed,
            "reps": args.reps,
            "box": {"cpu": _cpu_model(), "cores": cores, "driver_mem": heap, "mem_total_bytes": box["mem_total_bytes"],
                    "spark": __import__("pyspark").__version__,
                    "duckdb": __import__("duckdb").__version__},
            "queries": queries,
        }
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
            f.write("\n")
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(scratch, ignore_errors=True)
        run._rmdir_if_empty(os.path.dirname(scratch))
    return 0


if __name__ == "__main__":
    sys.exit(main())

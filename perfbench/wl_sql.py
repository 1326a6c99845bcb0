"""``sql_query``: a seeded shuffle of registered SQL-surface queries.

One operation is one registered query: the query function builds its
DataFrame (analysis plus any eager driver-side jobs it runs), then the
DataFrame is materialised to Spark's ``noop`` sink. Every query reads the
generated sf0.01 tables; each one is checked afterwards against its DuckDB
oracle on the same parquet files.

The mix is a fixed sample of the registry, chosen by :func:`pick_mix` from
the measured per-query warm cost in ``sql_profile.json`` (written by
``profile_sql.py``); the seed only orders it, so every seed does the same
work. All 94 queries of the eight families take ~34 s warm and ~54 s cold
per pass, too much for one run's time budget.
"""

from __future__ import annotations

import json
import os

import gen
import oracle
from common import Clock, Ctx, Workload, dir_bytes

#: the registry's SQL-surface families: codegen'd JVM operators and
#: driver-side planning, no Python UDF and no write
FAMILIES = ("relational", "joins", "aggregates", "windows", "analytics", "subqueries", "setops", "sql")

#: picks over all families; a family gets a share proportional to its
#: profiled warm time, at least one (7 gives 9 queries: two of
#: ``analytics``, one of every other family)
MIX_PICKS = 7

PROFILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sql_profile.json")


def pick_mix(profile: dict, picks: int = MIX_PICKS) -> dict[str, str]:
    """query -> family of a cost-weighted systematic sample.

    Family ``f`` with warm time ``T_f`` of the total ``T`` gets ``k =
    max(1, round(picks * T_f / T))`` picks. Its queries, cheapest first, are
    laid end to end by warm time and the query under each point ``(i + ½) / k``
    of that length is picked: each pick stands for an equal share of the
    family's time, so an expensive query is picked in proportion to what it
    costs (e.g. ``sql_recursive_cte``, a third of the ``sql`` family); one
    under several points is picked once. Queries that failed, missed their
    oracle or run Python UDFs are never picked."""
    usable = {
        n: q for n, q in profile["queries"].items()
        if q["family"] in FAMILIES and q.get("oracle_ok") and not q.get("python_udf")
    }
    total = sum(q["warm_s"] for q in usable.values())
    mix: dict[str, str] = {}
    for fam in FAMILIES:
        qs = sorted((q["warm_s"], n) for n, q in usable.items() if q["family"] == fam)
        fam_s = sum(c for c, _ in qs)
        k = max(1, round(picks * fam_s / total))
        for i in range(k):
            point, cum = (i + 0.5) / k * fam_s, 0.0
            for c, n in qs:
                cum += c
                if cum >= point:
                    mix[n] = fam
                    break
    return mix


with open(PROFILE) as _f:
    SQL_MIX = pick_mix(json.load(_f))


class SqlQuery(Workload):
    def generate(self, ctx: Ctx) -> None:
        self.dir = ctx.path("inputs", "sf")
        sizes = gen.tpch_tables(ctx.seed, self.dir)
        self.input_rows = sum(r for r, _ in sizes.values())
        self.input_bytes = sum(b for _, b in sizes.values())

    def register(self, ctx: Ctx, spark) -> None:
        from bfs_etl_sep2025_spark import registry, tables

        tables.register_views(spark, self.dir)
        specs = registry.all_specs()
        self.specs = [specs[n] for n in SQL_MIX]
        self.spark = spark

    def one_pass(self, ctx: Ctx, k: int, clock: Clock) -> list[tuple[str, float]]:
        order = gen.rng_for(ctx.seed, f"order{k}").permutation(len(self.specs))
        ops = []
        for i in order:
            spec = self.specs[i]
            if ctx.tracer is not None:
                ctx.tracer.run_id = f"p{k}/{spec.family}/{spec.name}"
            dt, _ = clock.op(spec.name, self._one, ctx, spec)
            ops.append((spec.name, dt))
        return ops

    def _one(self, ctx: Ctx, spec) -> None:
        with ctx.span("registry.build"):
            df = spec.fn(self.spark, self.dir)
        with ctx.span("operators.exec"):
            df.write.format("noop").mode("overwrite").save()

    def pass_layers(self, ctx: Ctx, k: int, spans) -> dict[str, float]:
        """Per-family split of the two operator spans of pass ``k``."""
        out: dict[str, float] = {}
        for s in spans:
            fam = s.run_id.split("/")[1]
            key = "build_s" if s.name == "registry.build" else "exec_s"
            name = f"operators.{fam}.{key}"
            out[name] = out.get(name, 0.0) + (s.end - s.start)
        return out

    def check(self, ctx: Ctx, clock: Clock) -> None:
        con = oracle.duck(ctx.path("tmp", "duck"))
        for t in gen.TABLE_ROWS:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.dir}/{t}.parquet')"
            )
        for spec in self.specs:
            _, got = clock.op(spec.name, lambda s=spec: s.fn(self.spark, self.dir).toPandas())
            if got is None:
                continue
            want = con.execute(spec.oracle).fetchdf()
            ok, why = oracle.same(got, want)
            clock.check(spec.name, ok, why)
        con.close()

    def space(self, ctx: Ctx) -> tuple[int, int]:
        """Bytes left on disk (inputs, warehouse, engine scratch) against the
        input bytes: a read-only mix should leave nothing behind."""
        return dir_bytes(self.dir, ctx.path("warehouse"), ctx.path("tmp")), self.input_bytes


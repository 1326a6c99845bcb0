"""``etl_write``: the write path, a backfill pass then a CDC pass.

One pass runs, on fresh tables, the daily CSV backfill of
:mod:`wl_backfill` (one operation per logical-date tick) and then the CDC
stream, document syncs and time-travel reads of :mod:`wl_cdc` (one
operation per batch, sync or read). Both halves keep their own inputs,
checks and trace hooks; this class only runs them in one session, so one
run pays one set-up and one cold pass for the whole write path.
"""

from __future__ import annotations

from common import Clock, Ctx, Workload
from wl_backfill import WarehouseBackfill
from wl_cdc import IncrementalCdc


class EtlWrite(Workload):
    def __init__(self) -> None:
        self.parts = (WarehouseBackfill(), IncrementalCdc())

    def generate(self, ctx: Ctx) -> None:
        for w in self.parts:
            w.generate(ctx)
        self.input_rows = sum(w.input_rows for w in self.parts)
        self.input_bytes = sum(w.input_bytes for w in self.parts)

    def register(self, ctx: Ctx, spark) -> None:
        for w in self.parts:
            w.register(ctx, spark)

    def prepare_pass(self, ctx: Ctx, k: int) -> None:
        for w in self.parts:
            w.prepare_pass(ctx, k)

    def one_pass(self, ctx: Ctx, k: int, clock: Clock) -> list[tuple[str, float]]:
        return [op for w in self.parts for op in w.one_pass(ctx, k, clock)]

    def trace_hooks(self, ctx: Ctx, tracer) -> None:
        for w in self.parts:
            w.trace_hooks(ctx, tracer)

    def pass_layers(self, ctx: Ctx, k: int, spans) -> dict[str, float]:
        return {n: x for w in self.parts for n, x in w.pass_layers(ctx, k, spans).items()}

    def once_layers(self) -> dict[str, float]:
        return {n: x for w in self.parts for n, x in w.once_layers().items()}

    def space(self, ctx: Ctx) -> tuple[int, int]:
        disk, live = zip(*(w.space(ctx) for w in self.parts))
        return sum(disk), sum(live)

    def check(self, ctx: Ctx, clock: Clock) -> None:
        for w in self.parts:
            w.check(ctx, clock)

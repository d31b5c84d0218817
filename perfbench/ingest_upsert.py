"""``ingest_upsert``: the write path, in one session.

Each round runs one incremental ingestion cycle (``perfbench.ingest``) and
then one CDC batch against a transaction-log table with two views over it
(``perfbench.lake_upsert``). The two halves share one Spark start-up and the
JVM's JIT warm-up: as separate workloads each run would pay both again, and
the benchmark's runs would not fit its time budget. Every layer of both halves
is still measured, and ``lake_query`` stays the read-only workload that
neither half touches.
"""

from __future__ import annotations

from perfbench.ingest import Ingest
from perfbench.lake_upsert import LakeUpsert


class IngestUpsert:
    def __init__(self, ctx):
        self.parts = (Ingest(ctx), LakeUpsert(ctx))

    def setup(self) -> dict:
        outs = [p.setup() for p in self.parts]
        return {k: sum(o[k] for o in outs) for k in ("gen_s", "prepare_s")}

    def prepare(self, i: int) -> None:
        for p in self.parts:
            p.prepare(i)

    def round(self, i: int, tracer) -> float | None:
        ts = [p.round(i, tracer) for p in self.parts]
        return None if None in ts else sum(ts)

    def finish(self, i: int) -> None:
        for p in self.parts:
            p.finish(i)

    def check(self) -> list[str]:
        return [f for p in self.parts for f in p.check()]

    def lake_size(self) -> tuple[int, int]:
        sizes = [p.lake_size() for p in self.parts]
        return sum(b for b, _ in sizes), sum(r for _, r in sizes)

    def detail(self) -> dict:
        return {k: v for p in self.parts for k, v in p.detail().items()}

    def layers(self, spans: list[dict]) -> dict:
        return {k: v for p in self.parts for k, v in p.layers(spans).items()}

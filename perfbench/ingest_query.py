"""ingest_query — the write path and the read path in one process.

One round is a ``lake_ingest`` round (bulk load, CDC micro-batches,
Excel->DB) followed by an ``adt_query`` round (the 19 ADT queries and
100 point lookups); see those modules. They share one JVM start and one
concurrent warm-up: run as two workloads, the fixed cost of a run (JVM
start and warm-up, about half of it) is paid twice, and 4 + 22 runs of
every workload no longer fit the benchmark's 57-minute budget.

The declared metrics take the per-query cost from the read path and
the bulk throughput from the write path: ``op_cpu_s`` is the CPU time
per ADT query, ``work_per_cpu_s`` the rows ingested per CPU second
(``op_p50_s`` and ``work_per_s`` are their wall-clock counterparts).
"""

from __future__ import annotations

import os

from adt_query import AdtQuery
from common import Ctx, concurrently
from lake_ingest import LakeIngest


class IngestQuery:
    name = "ingest_query"

    def __init__(self, ctx: Ctx):
        self.ingest = LakeIngest(ctx)
        self.query = AdtQuery(ctx)
        self.parts = (self.ingest, self.query)

    def inputs(self, d: str) -> dict:
        return {p.name: p.inputs(os.path.join(d, p.name)) for p in self.parts}

    def expect(self, inp: dict) -> dict:
        return {p.name: p.expect(inp[p.name]) for p in self.parts}

    def warm(self, d: str) -> None:
        concurrently([lambda p=p: p.warm(os.path.join(d, p.name)) for p in self.parts])

    def build(self, d: str) -> dict:
        return {p.name: p.build(os.path.join(d, p.name)) for p in self.parts}

    def round(self, st: dict) -> None:
        for p in self.parts:
            p.round(st[p.name])

    def check(self, st: dict, expected: dict) -> None:
        for p in self.parts:
            p.check(st[p.name], expected[p.name])

    def metrics(self, st: dict) -> dict:
        write = self.ingest.metrics(st[self.ingest.name])
        read = self.query.metrics(st[self.query.name])
        return {
            **write,
            **read,
            "op_p50_s": read["query_p50_s"],
            "work_per_s": write["work_per_s"],
            "op_cpu_s": read["op_cpu_s"],
            "work_per_cpu_s": write["work_per_cpu_s"],
            "ops_per_s": read["work_per_s"],
        }

    def layer_metrics(self, st: dict) -> dict:
        return {
            **self.ingest.layer_metrics(st[self.ingest.name]),
            **self.query.layer_metrics(st[self.query.name]),
        }

"""adt_query — the read path (the second part of the ``ingest_query``
workload).

One round runs the 19 ``adt_*`` registry queries (serializable Select
ADTs compiled by ``plans.compiler`` over the parquet tables) in a
seed-shuffled order, interleaved with 100 seed-keyed point lookups:
20 through ``LakeTable.scan_adt`` on a key-range-clustered lake copy of
``orders`` and 80 through ``SqlExecutor.select`` on a sqlite copy of the
first 50,000 orders.
"""

from __future__ import annotations

import os
import random
import sqlite3
import time

import pyarrow.parquet as pq

from common import Ctx, compare, concurrently, duck, median, percentile
from fabrix_spark.plans import Col, Compound, Cond, Select, render_compound, render_select
from fabrix_spark.queries import REGISTRY
from fabrix_spark.sources.lake import LakeTable
from fabrix_spark.sources.sql import SaveStrategy, SqlExecutor

QUERIES = sorted(n for n in REGISTRY if n.startswith("adt_"))
LAKE_LOOKUPS, SQL_LOOKUPS = 20, 80
LAKE_FILES = 16
SQL_ROWS = 50_000
SQL_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]


def _registered_adt(name: str):
    """The Select/Compound a registry query was built from, when its
    callable closes over one (16 of the 19 do)."""
    for cell in REGISTRY[name].fn.__closure__ or ():
        if isinstance(cell.cell_contents, (Select, Compound)):
            return cell.cell_contents
    return None


def _render(adt) -> str:
    return render_compound(adt) if isinstance(adt, Compound) else render_select(adt)


class AdtQuery:
    name = "adt_query"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.orders = pq.read_table(ctx.table("orders"), columns=SQL_COLS)
        self.adts = {q: _registered_adt(q) for q in QUERIES}
        self.results: dict[str, object] = {}
        self.lookups: list[tuple[str, int, list]] = []
        self.round_s: list[float] = []

    def inputs(self, d: str) -> dict:
        """The seeded round plan: query order and lookup keys."""
        rng = random.Random(self.ctx.seed)
        keys = self.orders.column("o_orderkey").to_pylist()
        plan = [("query", q) for q in QUERIES]
        plan += [("lake", k) for k in rng.sample(keys, LAKE_LOOKUPS)]
        plan += [("sql", k) for k in rng.sample(keys[:SQL_ROWS], SQL_LOOKUPS)]
        rng.shuffle(plan)
        return {"plan": plan}

    def expect(self, inp: dict) -> dict:
        con = duck({t: self.ctx.table(t) for t in ("orders", "lineitem", "customer")})
        try:
            out = {q: con.execute(REGISTRY[q].oracle).arrow() for q in QUERIES}
        finally:
            con.close()
        keys = {k for kind, k in inp["plan"] if kind != "query"}
        out["rows"] = {r["o_orderkey"]: r for r in self.orders.to_pylist() if r["o_orderkey"] in keys}
        return out

    def build(self, d: str) -> dict:
        """Lookup fixtures: a lake copy of ``orders`` range-clustered on
        the key (so manifest min/max stats prune a point lookup to one
        file) and a sqlite table with the key as primary key."""
        spark = self.ctx.spark
        os.makedirs(d, exist_ok=True)
        lake = LakeTable(spark, os.path.join(d, "orders_lake"), index="o_orderkey")
        src = spark.read.parquet(self.ctx.table("orders"))
        lake.save(src.repartitionByRange(LAKE_FILES, "o_orderkey"), SaveStrategy.REPLACE)
        db = os.path.join(d, "orders.sqlite")
        con = sqlite3.connect(db)
        try:
            con.execute(
                "CREATE TABLE orders (o_orderkey BIGINT PRIMARY KEY, o_custkey BIGINT, "
                "o_orderstatus VARCHAR, o_totalprice DOUBLE PRECISION, o_orderpriority VARCHAR)"
            )
            part = self.orders.slice(0, SQL_ROWS)
            cols = [part.column(c).to_pylist() for c in SQL_COLS]
            con.executemany("INSERT INTO orders VALUES (?, ?, ?, ?, ?)", zip(*cols))
            con.commit()
        finally:
            con.close()
        ex = SqlExecutor(spark, lambda: sqlite3.connect(db))
        return {"lake": lake, "sql": ex, **self.inputs(d)}

    def warm(self, d: str) -> None:
        """Every query once, plus a fixture build and a few lookups of
        each kind, all concurrently: cold code generation and the
        program's fixture caches happen here."""
        spark, data = self.ctx.spark, self.ctx.data_dir

        def lookups() -> None:
            # one thread: the sqlite connection belongs to its creator
            st = self.build(d)
            for k in self.orders.column("o_orderkey").to_pylist()[:3]:
                self._lake_lookup(st, k)
                self._sql_lookup(st, k)

        concurrently([lookups] + [lambda q=q: REGISTRY[q].fn(spark, data).toArrow() for q in QUERIES])

    # -- timed region ------------------------------------------------------

    def _lake_lookup(self, st, key):
        with self.ctx.span("sources.lake.scan"):
            return st["lake"].scan_adt([Cond("o_orderkey", "eq", key)]).df.collect()

    def _sql_lookup(self, st, key):
        sel = Select(
            table="orders",
            columns=[Col(c) for c in SQL_COLS],
            filter=[Cond("o_orderkey", "eq", key)],
        )
        with self.ctx.span("sources.sql.select"):
            return st["sql"].select(sel).df.collect()

    def round(self, st: dict) -> None:
        ctx = self.ctx
        t0 = time.perf_counter()
        for kind, arg in st["plan"]:
            if kind == "query":
                with ctx.op("query"):
                    adt = self.adts[arg]
                    if adt is not None:
                        with ctx.span("plans.render"):
                            _render(adt)
                    with ctx.span("plans.compile"):
                        df = REGISTRY[arg].fn(ctx.spark, ctx.data_dir)
                    with ctx.span("plans.exec"):
                        tbl = df.toArrow()
                self.results.setdefault(arg, tbl)
            else:
                with ctx.op("lookup"):
                    rows = (self._lake_lookup if kind == "lake" else self._sql_lookup)(st, arg)
                self.lookups.append((kind, arg, rows))
        self.round_s.append(time.perf_counter() - t0)

    # -- correctness -------------------------------------------------------

    def check(self, st: dict, expected: dict) -> None:
        ctx = self.ctx
        con = duck({})
        try:
            for q in QUERIES:
                if q not in self.results:
                    ctx.fail(f"{q}: no result")
                    continue
                err = compare(con, self.results[q], expected[q])
                if err:
                    ctx.fail(f"{q}: {err}")
        finally:
            con.close()
        for kind, key, rows in self.lookups:
            want = expected["rows"][key]
            got = [{c: r[c] for c in SQL_COLS} for r in rows]
            if got != [want]:
                ctx.fail(f"{kind} lookup {key}: {got} != {want}")

    # -- metrics -----------------------------------------------------------

    def metrics(self, st: dict) -> dict:
        q = self.ctx.durations("query")
        lk = self.ctx.durations("lookup")
        return {
            "op_p50_s": median(q),
            "work_per_s": (len(q) + len(lk)) / sum(self.round_s),
            "query_p50_s": median(q),
            "op_cpu_s": sum(self.ctx.cpu("query")) / len(q),
            "queries_per_s": len(q) / sum(q),
            "lookup_p50_s": median(lk),
            "lookup_p90_s": percentile(lk, 90),
        }

    def layer_metrics(self, st: dict) -> dict:
        tr = self.ctx.tracer
        kept = []
        for kind, key, _rows in self.lookups:
            if kind == "lake":
                files, total = st["lake"].pruned_files([("o_orderkey", "=", key)])
                kept.append(len(files) / total)
        return {
            "plans.compile_s": tr.self_p50("plans.compile"),
            "plans.render_s": tr.self_p50("plans.render"),
            "plans.exec_s": tr.self_p50("plans.exec"),
            "sources.lake.scan_s": tr.self_p50("sources.lake.scan"),
            "sources.lake.files_kept_ratio": sum(kept) / len(kept),
            "sources.sql.select_s": tr.self_p50("sources.sql.select"),
        }

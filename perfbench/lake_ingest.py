"""lake_ingest — the write path (the first part of the ``ingest_query``
workload).

One round is three operations, each into fresh targets:

* ``load``: ``pipe.dispatch`` reads ``orders``, derives a column and
  writes a 16-bucket ``LakeTable`` with Replace;
* ``cdc``: seed-built delta files drain through
  ``streaming.ingest.stream_upsert_lake`` one file per micro-batch; two
  deltas hold 10 keys (a minority of the 16 buckets), one holds 4,000
  (every bucket). The sizes are fixed so every seed does the same work;
  the seed picks the keys, the new values and the order;
* ``excel``: a seed-built xlsx sheet goes through
  ``sources.excel.consume_excel`` into ``SqlExecutor`` (sqlite): the
  first batch with Replace, later batches with Upsert.
"""

from __future__ import annotations

import os
import random
import sqlite3
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from common import Ctx, compare, concurrently, duck, median
from fabrix_spark import pipe
from fabrix_spark.frame import FxFrame
from fabrix_spark.sources import excel
from fabrix_spark.sources.lake import LakeTable
from fabrix_spark.sources.sql import SaveStrategy, SqlExecutor
from fabrix_spark.sources.xlsx import write_xlsx
from fabrix_spark.streaming.ingest import read_stream_parquet, stream_upsert_lake
from pyspark.sql import functions as F

BUCKETS = 16
SMALL_KEYS = [10, 10]  # a minority of the 16 buckets each
LARGE_KEYS = [4000]  # every bucket
XL_BATCH = 30
XL_BATCHES = 2
XL_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]


def _transform(fx: FxFrame) -> FxFrame:
    return FxFrame(
        fx.df.withColumn("o_priority", F.substring("o_orderpriority", 1, 1).cast("int")),
        "o_orderkey",
    )


def _with_priority(t: pa.Table) -> pa.Table:
    return t.append_column(
        "o_priority", pc.cast(pc.utf8_slice_codeunits(t["o_orderpriority"], 0, 1), pa.int32())
    )


def _bucket_files(lake: LakeTable) -> dict[str, dict[int, int]]:
    """Bucket dir -> {inode: size} of the live tree's data files."""
    out: dict[str, dict[int, int]] = {}
    cur = lake.current_dir()
    for b in os.listdir(cur):
        if b.startswith("fx_bucket="):
            files = {}
            for root, _dirs, names in os.walk(os.path.join(cur, b)):
                for n in names:
                    if n.endswith(".parquet"):
                        st = os.stat(os.path.join(root, n))
                        files[st.st_ino] = st.st_size
            out[b] = files
    return out


class _TracedLake:
    """Stands in for the LakeTable handed to ``stream_upsert_lake`` in
    the traced run: spans each ``upsert`` call (it runs on the
    streaming callback thread) and records which buckets it rewrote —
    untouched buckets are hard-linked, so their inodes survive."""

    def __init__(self, lake: LakeTable, ctx: Ctx, parent: int | None, stats: list):
        self._lake = lake
        self._ctx = ctx
        self._parent = parent
        self._stats = stats
        self.index = lake.index

    def upsert(self, batch) -> None:
        tracer = self._ctx.tracer
        t0 = time.perf_counter()
        before = _bucket_files(self._lake)
        t1 = time.perf_counter()
        with tracer.span("sources.lake.upsert", parent=self._parent):
            self._lake.upsert(batch)
        t2 = time.perf_counter()
        after = _bucket_files(self._lake)
        old = {i for files in before.values() for i in files}
        touched = [b for b, files in after.items() if not set(files) <= old]
        written = sum(s for files in after.values() for i, s in files.items() if i not in old)
        self._stats.append((len(touched) / BUCKETS, written))
        tracer.overhead_s += (t1 - t0) + (time.perf_counter() - t2)


class LakeIngest:
    name = "lake_ingest"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.orders = pq.read_table(ctx.table("orders"))
        self.rounds = 0
        self.round_s: list[float] = []
        self.upsert_stats: list[tuple[float, int]] = []
        self.progress: list[dict] = []
        self.last: dict = {}

    # -- inputs ------------------------------------------------------------

    @staticmethod
    def _deltas(rng, out: str, base: pa.Table, sizes: list[int], next_key: int) -> list[str]:
        """Delta files with disjoint keys: ~80% rewrite existing orders
        (new price and status), the rest are new keys."""
        os.makedirs(out)
        picks = rng.sample(range(base.num_rows), sum(sizes))
        paths = []
        for j, n in enumerate(sizes):
            n_upd = n - n // 5
            upd = base.take(pa.array(sorted(picks[:n_upd])))
            picks = picks[n:]
            price = pc.add(upd["o_totalprice"], rng.randint(1, 9999) / 100.0)
            upd = upd.set_column(upd.schema.get_field_index("o_totalprice"), "o_totalprice", price)
            status = pa.array([rng.choice("FOP") for _ in range(n_upd)])
            upd = upd.set_column(upd.schema.get_field_index("o_orderstatus"), "o_orderstatus", status)
            ins = base.take(pa.array([rng.randrange(base.num_rows) for _ in range(n // 5)]))
            keys = pa.array(range(next_key, next_key + ins.num_rows), pa.int64())
            next_key += ins.num_rows
            ins = ins.set_column(0, "o_orderkey", keys)
            path = os.path.join(out, f"delta_{j:03d}.parquet")
            pq.write_table(_with_priority(pa.concat_tables([upd, ins])), path)
            paths.append(path)
        return paths

    @staticmethod
    def _sheet(rng, path: str, base: pa.Table, n_batches: int, batch: int) -> list[list]:
        """An xlsx sheet whose last batch re-sends half of the first
        batch's keys with new values (the Upsert path's updates)."""
        rows = [
            [r[c] for c in XL_COLS]
            for r in base.take(pa.array(rng.sample(range(base.num_rows), batch * n_batches))).to_pylist()
        ]
        for r in rows:
            r[3] = round(int(r[3]) + rng.randint(1, 99) / 100.0, 2)  # never integral
        for i in range(batch // 2):
            r = list(rows[i])
            r[2] = rng.choice("FOP")
            r[3] = round(r[3] + 1.25, 2)
            rows[-1 - i] = r
        write_xlsx([XL_COLS] + rows, path)
        return rows

    def inputs(self, d: str) -> dict:
        """Seeded delta files and an xlsx sheet (pyarrow and the stdlib
        only)."""
        rng = random.Random(self.ctx.seed)
        sizes = SMALL_KEYS + LARGE_KEYS
        rng.shuffle(sizes)
        next_key = pc.max(self.orders["o_orderkey"]).as_py() + 1
        os.makedirs(d, exist_ok=True)
        return {
            "dir": d,
            "deltas": self._deltas(rng, os.path.join(d, "deltas"), self.orders, sizes, next_key),
            "xlsx": os.path.join(d, "sheet.xlsx"),
            "sheet": self._sheet(rng, os.path.join(d, "sheet.xlsx"), self.orders, XL_BATCHES, XL_BATCH),
        }

    def expect(self, inp: dict) -> dict:
        """The lake after CDC, merged independently in DuckDB (input +
        deltas, last write per key), and the sqlite rows after
        Excel->DB (last write per key)."""
        con = duck({"orders": self.ctx.table("orders")})
        try:
            deltas = ", ".join(f"'{p}'" for p in inp["deltas"])
            sel = ", ".join(self.orders.column_names + ["o_priority"])
            lake = con.execute(
                f"""
                WITH base AS (
                  SELECT *, CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS o_priority FROM orders
                ), d AS (SELECT {sel} FROM read_parquet([{deltas}]))
                SELECT {sel} FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM d)
                UNION ALL SELECT {sel} FROM d
                """
            ).arrow()
        finally:
            con.close()
        return {"lake": lake, "sqlite": {r[0]: tuple(r) for r in inp["sheet"]}}

    def build(self, d: str) -> dict:
        return self.inputs(d)

    # -- operations --------------------------------------------------------

    def _load(self, src: str, root: str) -> LakeTable:
        ctx = self.ctx
        lake = LakeTable(ctx.spark, root, index="o_orderkey", buckets=BUCKETS)

        def writer(fx):
            with ctx.span("sources.lake.save"):
                lake.save(fx, SaveStrategy.REPLACE)

        with ctx.span("pipe.dispatch"):
            pipe.dispatch(ctx.spark, lambda s: FxFrame(s.read.parquet(src), "o_orderkey"), writer, _transform)
        return lake

    def _cdc(self, lake: LakeTable, delta_dir: str, ckpt: str) -> list[dict]:
        ctx = self.ctx
        schema = ctx.spark.read.parquet(delta_dir).schema
        with ctx.span("streaming") as sp:
            sink = lake
            if ctx.tracer.enabled:
                sink = _TracedLake(lake, ctx, sp.id, self.upsert_stats)
            q = stream_upsert_lake(read_stream_parquet(ctx.spark, delta_dir, schema, 1), sink, ckpt)
            q.awaitTermination()
            ctx.tracer.add_stream_jobs(str(q.runId))
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return [p for p in q.recentProgress if p["numInputRows"] > 0]

    def _excel(self, xlsx: str, db: str, batch: int) -> None:
        ctx = self.ctx
        ex = SqlExecutor(ctx.spark, lambda: sqlite3.connect(db))

        def consumer(fx: FxFrame, i: int) -> None:
            strategy = SaveStrategy.REPLACE if i == 0 else SaveStrategy.UPSERT
            with ctx.span(f"sources.sql.{'save' if i == 0 else 'upsert'}"):
                ex.save("orders_xl", fx, strategy)

        opts = excel.XlReadOptions(index="o_orderkey", batch_size=batch)
        with ctx.span("sources.excel"):
            excel.consume_excel(ctx.spark, xlsx, consumer, opts)

    def warm(self, d: str) -> None:
        """Every operation once on the full-size inputs: the load and
        the CDC drain on one thread, Excel->DB on another."""
        w = self.inputs(d)

        def lake_path():
            lake = self._load(self.ctx.table("orders"), os.path.join(d, "warm_lake"))
            self._cdc(lake, os.path.dirname(w["deltas"][0]), os.path.join(d, "warm_ckpt"))

        concurrently([lake_path, lambda: self._excel(w["xlsx"], os.path.join(d, "warm.sqlite"), XL_BATCH)])

    def round(self, st: dict) -> None:
        ctx, d, r = self.ctx, st["dir"], self.rounds
        self.rounds += 1
        t0 = time.perf_counter()
        with ctx.op("load"):
            lake = self._load(ctx.table("orders"), os.path.join(d, f"lake_{r}"))
        with ctx.op("cdc"):
            delta_dir = os.path.dirname(st["deltas"][0])
            self.progress += self._cdc(lake, delta_dir, os.path.join(d, f"ckpt_{r}"))
        db = os.path.join(d, f"sink_{r}.sqlite")
        with ctx.op("excel"):
            self._excel(st["xlsx"], db, XL_BATCH)
        self.last = {"lake": lake, "db": db}
        self.round_s.append(time.perf_counter() - t0)

    # -- correctness -------------------------------------------------------

    def check(self, st: dict, expected: dict) -> None:
        ctx = self.ctx
        con = duck({})
        try:
            err = compare(con, self.last["lake"].read().df.toArrow(), expected["lake"])
            if err:
                ctx.fail(f"lake after CDC: {err}")
        finally:
            con.close()
        sq = sqlite3.connect(self.last["db"])
        try:
            got = {
                r[0]: tuple(r)
                for r in sq.execute(f"SELECT {', '.join(XL_COLS)} FROM orders_xl").fetchall()
            }
        finally:
            sq.close()
        want = expected["sqlite"]
        if got != want:
            bad = [k for k in want if got.get(k) != want[k]][:3]
            ctx.fail(f"sqlite after Excel->DB: {len(got)} rows vs {len(want)}, e.g. keys {bad}")

    # -- metrics -----------------------------------------------------------

    def _delta_rows(self, st: dict) -> int:
        return sum(pq.ParquetFile(p).metadata.num_rows for p in st["deltas"])

    def _delta_bytes(self, st: dict) -> int:
        return sum(os.path.getsize(p) for p in st["deltas"])

    def metrics(self, st: dict) -> dict:
        ctx = self.ctx
        loads = ctx.durations("load")
        xl = ctx.durations("excel")
        batches = [p["durationMs"]["triggerExecution"] / 1000.0 for p in self.progress]
        live = self.last["lake"]
        live_bytes = sum(
            os.path.getsize(os.path.join(root, n))
            for root, _d, names in os.walk(live.current_dir())
            for n in names
            if n.endswith(".parquet")
        )
        in_bytes = os.path.getsize(ctx.table("orders")) + self._delta_bytes(st)
        ingest = self.orders.num_rows * len(loads) / sum(loads)
        round_rows = self.orders.num_rows + self._delta_rows(st) + len(st["sheet"])
        return {
            "op_p50_s": median(batches),
            "work_per_s": round_rows * self.rounds / sum(self.round_s),
            "work_per_cpu_s": round_rows
            * self.rounds
            / sum(ctx.cpu("load") + ctx.cpu("cdc") + ctx.cpu("excel")),
            "ingest_rows_per_s": ingest,
            "upsert_batch_p50_s": median(batches),
            "sql_sink_rows_per_s": len(st["sheet"]) * len(xl) / sum(xl) if xl else 0.0,
            "lake_space_amp": live_bytes / in_bytes,
        }

    def layer_metrics(self, st: dict) -> dict:
        tr = self.ctx.tracer
        prog = self.progress
        delta_rows = self._delta_rows(st) * self.rounds
        touched = [t for t, _w in self.upsert_stats]
        written = sum(w for _t, w in self.upsert_stats)
        return {
            "pipe.dispatch_s": tr.self_p50("pipe.dispatch"),
            "sources.lake.save_s": tr.self_p50("sources.lake.save"),
            "sources.lake.upsert_s": tr.self_p50("sources.lake.upsert"),
            "sources.lake.buckets_touched_ratio": sum(touched) / len(touched) if touched else 0.0,
            "sources.lake.bytes_written_per_delta_byte": written
            / (self._delta_bytes(st) * self.rounds),
            "streaming.batches": len(prog) / self.rounds,
            "streaming.trigger_p50_s": median(
                [p["durationMs"]["triggerExecution"] / 1000.0 for p in prog]
            ),
            "streaming.add_batch_p50_s": median([p["durationMs"]["addBatch"] / 1000.0 for p in prog]),
            "streaming.source_reads_per_row": sum(p["numInputRows"] for p in prog) / delta_rows,
            "sources.excel.parse_s": tr.self_p50("sources.excel"),
            "sources.sql.save_s": tr.self_p50("sources.sql.save"),
            "sources.sql.upsert_s": tr.self_p50("sources.sql.upsert"),
        }

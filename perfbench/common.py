"""Shared pieces of the benchmark: the run context, operation records,
statistics, memory readings and the DuckDB result comparison."""

from __future__ import annotations

import contextlib
import os
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import duckdb
import pyarrow as pa

from spans import NullTracer


@dataclass
class OpRecord:
    kind: str
    dur: float = 0.0
    cpu: float = 0.0
    ok: bool = True


def _ticks(stat: str) -> tuple[str, int, int]:
    """(name, parent pid, utime + stime + cutime + cstime) from a
    /proc stat line."""
    name = stat[stat.index("(") + 1 : stat.rindex(")")]
    fields = stat[stat.rindex(")") + 2 :].split()
    return name, int(fields[1]), sum(int(v) for v in fields[11:15])


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # exited meanwhile
        return None


def app_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process under it — the Spark JVM and its Python workers, including
    workers that exited — less the JVM's JIT compiler threads.

    The kernel charges the ticks a hypervisor steals to no process, so
    on a shared host this moves much less than wall time. JIT
    compilation is left out because its queue is still draining when the
    timed rounds start and stays busy for a minute of rounds or more;
    the CPU time of the work itself settles much sooner.
    Needs a fixed set of compiler threads (run.py starts the JVM with
    ``-XX:-UseDynamicNumberOfCompilerThreads``): the CPU time of a thread
    that exits moves into its process's total."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        stat = _read(f"/proc/{name}/stat") if name.isdigit() else None
        if stat:
            _n, parent[int(name)], ticks[int(name)] = _ticks(stat)
    me, total = os.getpid(), 0
    for pid, t in ticks.items():
        p = pid
        while p != me and p > 1:
            p = parent.get(p, 0)
        if p != me:
            continue
        total += t
        if pid == me:
            continue
        for tid in os.listdir(f"/proc/{pid}/task") if os.path.isdir(f"/proc/{pid}/task") else ():
            stat = _read(f"/proc/{pid}/task/{tid}/stat")
            if stat and stat.startswith(f"{tid} (C", 0):
                name, _p, t = _ticks(stat)
                if "CompilerThre" in name:
                    total -= t
    return total / os.sysconf("SC_CLK_TCK")


@dataclass
class Ctx:
    """Everything a workload needs: the seed its inputs derive from, the
    read-only input tables, the Spark session (set once it has started)
    and the tracer (a ``NullTracer`` in the untraced run)."""

    seed: int
    data_dir: str
    spark: object = None
    tracer: NullTracer = field(default_factory=NullTracer)
    ops: list[OpRecord] = field(default_factory=list)
    wrong: list[str] = field(default_factory=list)

    def table(self, name: str) -> str:
        return os.path.join(self.data_dir, f"{name}.parquet")

    @contextlib.contextmanager
    def op(self, kind: str):
        """Time one closed-loop operation. An exception marks the
        operation failed (and is reported on stderr) instead of ending
        the run."""
        rec = OpRecord(kind)
        c0 = app_cpu_s()
        t0 = time.perf_counter()
        try:
            with self.tracer.op(kind):
                yield rec
        except Exception:
            rec.ok = False
            traceback.print_exc(file=sys.stderr)
        rec.dur = time.perf_counter() - t0
        rec.cpu = app_cpu_s() - c0
        self.ops.append(rec)

    def span(self, name: str):
        return self.tracer.span(name)

    def fail(self, what: str) -> None:
        """Count a wrong result as a failed operation."""
        print(f"# WRONG: {what}", file=sys.stderr)
        self.wrong.append(what)

    def durations(self, kind: str) -> list[float]:
        return [r.dur for r in self.ops if r.kind == kind and r.ok]

    def cpu(self, kind: str) -> list[float]:
        return [r.cpu for r in self.ops if r.kind == kind and r.ok]


def concurrently(fns) -> None:
    """Run zero-argument callables on four threads (Spark runs the jobs
    of different threads side by side) and re-raise the first error.
    Only used outside the timed region: for warm-up passes and for
    computing expected results."""
    with ThreadPoolExecutor(max_workers=4) as pool:
        for fut in [pool.submit(fn) for fn in fns]:
            fut.result()


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(round(q / 100.0 * len(s) + 0.5)) - 1))
    return s[k]


def _status_kb(pid: int | str, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident memory (VmHWM) of this Python process plus the
    Spark JVM, in MiB."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (_status_kb("self", "VmHWM") + _status_kb(jvm_pid, "VmHWM")) / 1024.0


# ---------------------------------------------------------------------------
# result comparison
# ---------------------------------------------------------------------------


def duck(tables: dict[str, str]) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per parquet input."""
    con = duckdb.connect()
    for name, path in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _naive(tbl: pa.Table) -> pa.Table:
    """Drop time zones (the Spark session runs in UTC, DuckDB is naive)."""
    cols = []
    for c in tbl.columns:
        if pa.types.is_timestamp(c.type) and c.type.tz is not None:
            c = c.cast(pa.timestamp(c.type.unit))
        cols.append(c)
    return pa.table(cols, names=tbl.column_names)


def _canon_type(ta: pa.DataType, tb: pa.DataType) -> str | None:
    ts = (ta, tb)
    if any(pa.types.is_floating(t) or (pa.types.is_decimal(t) and t.scale > 0) for t in ts):
        return "DOUBLE"
    if all(pa.types.is_integer(t) or pa.types.is_decimal(t) for t in ts):
        return "HUGEINT"
    if any(pa.types.is_timestamp(t) for t in ts):
        return "TIMESTAMP"
    return None


def fingerprint(con, rel_sql: str, exprs: list[str]) -> tuple:
    """Order-insensitive (row count, hash sum) of a relation."""
    row = ", ".join(exprs)
    return con.execute(
        f"SELECT count(*), coalesce(sum(hash({row})::HUGEINT), 0) FROM ({rel_sql})"
    ).fetchone()


def compare(con, got: pa.Table, expected: pa.Table) -> str | None:
    """None when ``got`` and ``expected`` hold the same multiset of
    rows under the same column names, else a short description."""
    if sorted(got.column_names) != sorted(expected.column_names):
        return f"columns {sorted(got.column_names)} != {sorted(expected.column_names)}"
    if got.num_rows != expected.num_rows:
        return f"rows {got.num_rows} != {expected.num_rows}"
    exprs = []
    for name in sorted(got.column_names):
        t = _canon_type(got.schema.field(name).type, expected.schema.field(name).type)
        exprs.append(f'CAST("{name}" AS {t})' if t else f'"{name}"')
    con.register("_got", _naive(got))
    con.register("_exp", _naive(expected))
    try:
        a = fingerprint(con, "SELECT * FROM _got", exprs)
        b = fingerprint(con, "SELECT * FROM _exp", exprs)
    finally:
        con.unregister("_got")
        con.unregister("_exp")
    return None if a == b else f"hash {a} != {b}"

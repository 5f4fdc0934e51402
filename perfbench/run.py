"""Benchmark entry point: run one workload with one seed and print the
result as one JSON line (the last line of standard output).

    python3 perfbench/run.py --workload ingest_query --seed 1 --seconds 10 --trace 0

Run it from the repository root. The input tables are the read-only
TPC-H-ish sf0.1 tables (TESTDATA.md), found in ``$SPARK_GRAFT_SF_DIR``
or else in ``testdata/sf0.1`` under the home directory or above the
checkout. Everything the run writes — Spark local
dirs, temp files, lake roots, checkpoints, sqlite files — lives under a
fresh ``.perfbench_tmp/<run>`` directory that is deleted at exit; with
``--trace 1`` the spans are written to ``.perfbench_out/``.

Each run: start Spark on ``local[<cpus>]`` while computing the expected
results in DuckDB; run one warm-up pass over the workload's operations
(so cold code generation lands in set-up) and build its inputs and
fixtures three times into fresh directories; run closed-loop rounds for
``--seconds``; check every result; report. See README.md for the
metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
TABLES = ("orders", "lineitem", "customer", "documents", "embeddings")
SETUP_BUILDS = 3


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _data_dir() -> str | None:
    """The sf0.1 tables: ``$SPARK_GRAFT_SF_DIR`` if set, else the first
    ``testdata/sf0.1`` in the home directory or above the checkout."""
    env = os.environ.get("SPARK_GRAFT_SF_DIR")
    places = [Path(env)] if env else [Path.home() / "testdata" / "sf0.1"] + [
        p / "testdata" / "sf0.1" for p in ROOT.parents
    ]
    for d in places:
        if all((d / f"{t}.parquet").is_file() for t in TABLES):
            return str(d)
    return None


def _declared() -> tuple[dict, dict, list]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    return e2e, layer, [w["name"] for w in spec["workloads"]]


def _isolate(run_dir: Path) -> None:
    """Point every temp/scratch location of this process, the Spark JVM
    and its Python workers at ``run_dir``; give the workers the
    repository on PYTHONPATH (UDF operators import fabrix_spark)."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("FABRIX_DRIVER_MEM", "1g")
    # a fixed set of JIT compiler threads: threads that come and go would
    # take their CPU time out of common.app_cpu_s's reach
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={run_dir / 'warehouse'} "
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads" '
        "pyspark-shell"
    )
    sys.path.insert(0, str(ROOT))
    os.chdir(run_dir)


def _cpu_probe() -> float:
    """Seconds for a fixed pure-Python loop: host speed context only."""
    t0 = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i
    return time.perf_counter() - t0


def _cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies from /proc/stat: how much CPU the host
    took away while the rounds ran (context only)."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals), vals[7]


def _workload(name: str, ctx):
    if name == "ingest_query":
        from ingest_query import IngestQuery

        return IngestQuery(ctx)
    from llm_dedup import LlmDedup

    return LlmDedup(ctx)


def run(args, data_dir: str, run_dir: Path) -> tuple[dict, dict]:
    from common import Ctx, median, peak_rss_mb
    from spans import NullTracer, Tracer

    from fabrix_spark.session import get_spark

    context: dict = {"loadavg": os.getloadavg(), "cpu_probe_s": _cpu_probe()}
    ctx = Ctx(args.seed, data_dir)
    wl = _workload(args.workload, ctx)

    # the expected results need no Spark: compute them from a reference
    # copy of the seeded inputs while the JVM starts
    expected: dict = {}

    def expect() -> None:
        e0 = time.perf_counter()
        expected.update(wl.expect(wl.inputs(str(run_dir / "reference"))))
        context["expect_s"] = time.perf_counter() - e0

    oracle = threading.Thread(target=expect)
    oracle.start()
    t0 = time.perf_counter()
    ctx.spark = spark = get_spark("perfbench")
    try:
        context["session_start_s"] = time.perf_counter() - t0
        oracle.join()
        if not expected:
            raise RuntimeError("computing the expected results failed")

        # set-up (never traced): the warm-up pass, then three builds into
        # fresh dirs; the rounds use the last one
        w0 = time.perf_counter()
        wl.warm(str(run_dir / "warm"))
        warm_s = time.perf_counter() - w0
        builds = []
        for i in range(SETUP_BUILDS):
            b0 = time.perf_counter()
            st = wl.build(str(run_dir / f"setup_{i}"))
            builds.append(time.perf_counter() - b0)
        context.update(build_s=builds, warm_s=warm_s)

        tracer = Tracer(spark) if args.trace else NullTracer()
        ctx.tracer = tracer
        cpu0 = _cpu_times()
        t_start = time.perf_counter()
        rounds = 0
        while True:
            r0 = time.perf_counter()
            wl.round(st)
            rounds += 1
            now = time.perf_counter()
            if now - t_start + (now - r0) > args.seconds:
                break
        cpu1 = _cpu_times()
        context.update(
            rounds=rounds,
            measured_s=time.perf_counter() - t_start,
            steal_pct=100.0 * (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0]),
        )

        c0 = time.perf_counter()
        wl.check(st, expected)
        context["check_s"] = time.perf_counter() - c0
        out = dict(wl.metrics(st))
        context["workload_metrics"] = dict(out)
        out["setup_s"] = warm_s + median(builds)
        out["peak_rss_mb"] = peak_rss_mb(spark)
        if args.trace:
            layer = wl.layer_metrics(st)
            per_op = tracer.session_per_op()
            layer["session.jobs"] = per_op["jobs"]
            layer["session.tasks"] = per_op["tasks"]
            layer["session.failed_tasks"] = per_op["failed_tasks"]
            layer["trace.op_p50_s"] = out["op_p50_s"]
            layer["trace.overhead_s"] = tracer.overhead_s / max(1, len(ctx.ops))
            out_dir = ROOT / ".perfbench_out"
            out_dir.mkdir(exist_ok=True)
            tracer.dump(str(out_dir / f"trace-{args.workload}-{args.seed}.jsonl"))
            out = layer
        failed = sum(not r.ok for r in ctx.ops) + len(ctx.wrong)
        attempted = max(len(ctx.ops), failed, 1)
        context["failed_ratio"] = failed / attempted
        result = {
            "correct": not ctx.wrong and failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": out,
        }
        return result, context
    finally:
        oracle.join()
        _stop(spark)


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "fabrix_spark" / "__init__.py").is_file():
        _fail(f"no fabrix_spark package under {ROOT}: run from a full checkout")
    try:
        e2e, layer, workloads = _declared()
    except (OSError, ValueError, KeyError) as e:
        _fail(f"cannot read BENCHMARK.json: {e}")
    if args.workload not in workloads:
        _fail(f"unknown workload {args.workload!r}; one of {workloads}")
    data_dir = _data_dir()
    if data_dir is None:
        _fail(f"input tables {list(TABLES)} not found (set SPARK_GRAFT_SF_DIR)")

    sys.path.insert(0, str(HERE))
    run_dir = ROOT / ".perfbench_tmp" / f"{args.workload}-{args.seed}-{os.getpid()}"
    _isolate(run_dir)
    try:
        result, context = run(args, data_dir, run_dir)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            run_dir.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass

    units = layer if args.trace else e2e
    result["metrics"] = {
        name: {"value": float(result["metrics"].get(name, 0.0)), "unit": unit}
        for name, unit in units.items()
    }
    print("# context " + json.dumps(context, default=float))
    print(json.dumps(result))


if __name__ == "__main__":
    main()

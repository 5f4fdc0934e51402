"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the
configs below are chosen so the same code scales to a multi-executor
cluster: AQE for runtime re-planning (skew joins, partition
coalescing), Arrow for any Python exchange, UTC session timezone so
timestamp semantics match an external oracle (DuckDB is UTC-naive).

``get_spark`` also starts the Python workers from
``fabrix_spark.worker_daemon``: before each task a PySpark worker calls
``importlib.invalidate_caches()``, which on CPython before 3.13 re-reads
the directory of every zip archive on its path (``pyspark.zip``, py4j,
Spark's jar) — about 120 ms of CPU per task. The daemon re-reads an
archive only when its file identity changes. On CPython 3.13 and later
it is a no-op. ``spark.python.daemon.module`` is a static conf, so
sessions built outside ``get_spark`` (a plain
``SparkSession.builder``, ``tune_session``'s callers) keep PySpark's
stock worker start.
"""

from __future__ import annotations

import os
from typing import Callable, TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")

DEFAULT_SHUFFLE_PARTITIONS = "32"
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# read parquet TIMESTAMP(NANOS) columns as longs (queries._events turns
# them into micros). Set once per session: the value is part of the
# table resolver's cache key, so flipping it mid-session re-infers
# every table resolved before.
_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def get_spark(
    app_name: str = "fabrix_spark",
    master: str | None = None,
    ui: bool = False,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Settings that matter at 100 TB and are harmless locally:
    AQE + skew-join handling, partition coalescing, broadcast join
    threshold left to Spark's default (AQE converts eligible joins at
    runtime based on observed sizes). ``ui=True`` keeps the Spark UI
    (and its REST API) up for diagnostics that need per-task metrics —
    tools/scaling_curve.py's straggler measurement; off by default
    (tests/bench don't want the port + history overhead).

    Python workers fork from ``fabrix_spark.worker_daemon``, which stops
    each task from re-reading Spark's zip archives (see the module
    docstring); a no-op on CPython 3.13 and later. The conf is static:
    a session that already exists when this is called, or one built
    without it, keeps PySpark's stock daemon.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", os.environ.get("FABRIX_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config(_NANOS_AS_LONG, "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", "fabrix_spark.worker_daemon")
        .config("spark.ui.enabled", "true" if ui else "false")
        .config("spark.driver.memory", os.environ.get("FABRIX_DRIVER_MEM", "8g"))
    )
    if master is not None:
        builder = builder.master(master)
    elif os.environ.get("FABRIX_MASTER"):
        builder = builder.master(os.environ["FABRIX_MASTER"])
    else:
        builder = builder.master(f"local[{cpus}]")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _workers_import_package(spark)
    return spark


def _workers_import_package(spark: SparkSession) -> None:
    """Put the directory holding ``fabrix_spark`` first on the Python
    workers' PYTHONPATH: Arrow/pandas operators (cosine_topk,
    ivf_assign, the Lloyd/PQ trainers, SemDeDup, shingling) unpickle
    functions of this package inside the workers, which otherwise find
    it only when the driver runs from the checkout root. UDFs take the
    context's environment when they are created, so this also serves a
    reused context."""
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_ROOT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([_PACKAGE_ROOT] + paths)


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-mutable engine settings to an externally created
    session (the driver owns the session in ``__spark_entry__`` calls).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set(_NANOS_AS_LONG, "true")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    except Exception:
        pass  # some confs may be static on certain deployments
    return spark


def recorded_plans(spark: SparkSession, fn: Callable[[], T]) -> tuple[T, list[str]]:
    """Run ``fn()`` and return its result with the physical plan of
    every SQL execution that started while it ran, oldest first.

    Each ``localCheckpoint`` barrier, eager or lazy, and each action is
    a SQL execution of its own, and the plan it ran is kept in the
    session's SQL status store, not in the plan of the frame a call
    returns (which reads the barrier as ``Scan ExistingRDD``). The
    store keeps one plan graph per execution, replaced at each AQE
    re-plan, so a plan here is the FINAL plan with every node once,
    one ``simpleString`` line per node (the node form of
    ``executedPlan().toString()``). The execution's text description
    would also carry AQE's Initial Plan and, in the default formatted
    explain mode, a second copy of every node.

    Executions that other threads of the session start meanwhile are
    included; executions the store has already evicted
    (``spark.sql.ui.retainedExecutions``) are not."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def items(seq):
        it = seq.iterator()
        while it.hasNext():
            yield it.next()

    def newest() -> int:
        # execution ids are sequential; the store lists them in id order
        bus.waitUntilEmpty()
        n = store.executionsCount()
        return store.executionsList(n - 1, 1).head().executionId() if n else -1

    last = newest()
    out = fn()
    plans = [
        "\n".join(node.desc() for node in items(store.planGraph(eid).allNodes()))
        for eid in range(last + 1, newest() + 1)
        if store.execution(eid).isDefined()
    ]
    return out, plans

"""Barriers and the plans Spark records for them.

Each ``localCheckpoint`` barrier an operator places is a SQL execution
of its own; these tests pin how many Spark jobs the barriered
operators start, and that the registry wrappers keep the
``(spark, sf_dir)`` driver contract."""

import inspect

from fabrix_spark.queries import REGISTRY, STAGED, _t


def _query(name):
    return REGISTRY[name] if name in REGISTRY else STAGED[name]


def test_barriered_operator_job_counts(spark, sf_dir, spark_jobs):
    """Spark jobs per operator, as (plan build, execute), plus the SQL
    executions the build starts (each localCheckpoint barrier, eager or
    lazy, and each driver action is one). Building runs the eager
    barriers and, under AQE, every shuffle stage behind a lazy one;
    collecting runs the rest. The operators are called the way their
    registry queries call them; k_core's ``until_stable`` form has no
    query and runs on the tail-chain graph of the fixpoint test.

    Execution counts are exact. Job counts are not, run to run: AQE
    materializes independent stages concurrently, and which finishes
    first can turn a join into a broadcast that starts one more job
    (gr_bfs_reach builds in 20-21 jobs). The race only adds jobs, so an
    operator whose counts miss is measured again, up to five times, and
    the pin is the per-column minimum."""
    from fabrix_spark.operators.graph import k_core
    from fabrix_spark.session import recorded_plans

    for table in ("documents", "embeddings", "lineitem", "orders", "supplier"):
        _t(spark, sf_dir, table)
    chain = [102] + list(range(1, 13))
    kc_edges = spark.createDataFrame(
        [(100, 101), (101, 102), (100, 102)] + list(zip(chain, chain[1:])),
        "src long, dst long",
    )
    want = {
        "d_fuzzy_pairs": (10, 1, 1),  # fuzzy_pairs
        "d_fuzzy_join": (14, 1, 1),  # fuzzy_join
        "stream_fuzzy_replay": (73, 1, 14),  # admit_batch_fuzzy, three batches
        "sim_mmr_rerank": (54, 1, 7),  # mmr_rerank
        "gr_pagerank_purchases": (33, 1, 7),  # pagerank(iters=3)
        "gr_triangle_counts": (8, 6, 2),  # triangle_counts
        "gr_bfs_reach": (20, 1, 5),  # bfs_distances
        "gr_label_propagation": (21, 1, 5),  # min_label_propagation
        "t_bpe_encode": (3, 3, 1),  # bpe_encode
        "k_core_until_stable": (95, 2, 28),
    }
    builds = {
        name: (lambda name=name: _query(name).fn(spark, sf_dir))
        for name in want
        if name != "k_core_until_stable"
    }
    builds["k_core_until_stable"] = lambda: k_core(kc_edges, k=2, until_stable=True)

    def measure(build):
        out = []
        n_build = spark_jobs(lambda: out.append(recorded_plans(spark, build)))
        df, recorded = out[0]
        return n_build, spark_jobs(df.collect), len(recorded)

    got = {}
    for name, build in builds.items():
        got[name] = measure(build)
        for _ in range(4):
            if got[name] == want[name]:
                break
            got[name] = tuple(map(min, got[name], measure(build)))
    assert got == want


def test_recorded_plans_hold_the_work_behind_a_lazy_barrier(spark, sf_dir):
    """fuzzy_pairs' lazy barrier is one SQL execution, run while the
    plan is built: its recorded plan holds the blocking windows, the
    candidate joins and the verify repartition, which the returned
    frame reads as a checkpointed RDD scan with no shuffle at all."""
    from fabrix_spark.operators.dedup import fuzzy_pairs
    from fabrix_spark.session import recorded_plans

    docs = _t(spark, sf_dir, "documents")
    out, recorded = recorded_plans(spark, lambda: fuzzy_pairs(docs))
    returned = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in returned and "Exchange" not in returned
    assert len(recorded) == 1
    (barrier,) = recorded
    assert "isFinalPlan=true" in barrier
    assert barrier.count("Window [count(1)") == 4  # two generators x two sides
    assert "BroadcastHashJoin" in barrier or "SortMergeJoin" in barrier
    assert "REPARTITION_BY_NUM" in barrier
    # the next execution is the collect, recorded on its own
    _, after = recorded_plans(spark, out.collect)
    assert len(after) == 1 and "Scan ExistingRDD" in after[0]


def test_registry_functions_take_spark_and_sf_dir():
    """Every REGISTRY and STAGED entry is called as ``fn(spark,
    sf_dir)`` and takes nothing else."""
    for name, qd in {**REGISTRY, **STAGED}.items():
        params = list(inspect.signature(qd.fn).parameters.values())
        assert [p.name for p in params] == ["spark", "sf_dir"], name
        assert all(
            p.kind is p.POSITIONAL_OR_KEYWORD and p.default is p.empty for p in params
        ), name

"""Scale machinery: salted joins, pandas apply, and plan-shape
regression tests (broadcasts + pushdown must not silently vanish)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from fabrix_spark.frame import FxFrame
from fabrix_spark.operators.skew import salted_join, top_keys
from fabrix_spark.queries import REGISTRY

SF = "/root/testdata/sf0.001"


def test_salted_join_matches_plain(spark):
    # skewed left: key 1 dominates
    left = spark.createDataFrame(
        [(1, i) for i in range(500)] + [(2, i) for i in range(5)], "k long, v long"
    )
    right = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, name string")
    plain = set(map(tuple, left.join(right, "k").collect()))
    salted = set(map(tuple, salted_join(left, right, "k", salt=4).collect()))
    assert salted == plain

    l_plain = set(map(tuple, left.join(right, "k", "left").collect()))
    l_salted = set(map(tuple, salted_join(left, right, "k", "left", salt=4).collect()))
    assert l_salted == l_plain


def test_top_keys(spark):
    df = spark.createDataFrame([(1,)] * 9 + [(2,)] * 3 + [(3,)], "k long")
    top = top_keys(df, "k", 2).collect()
    assert [(r["k"], r["count"]) for r in top] == [(1, 9), (2, 3)]


def test_apply_in_pandas(spark):
    fx = FxFrame.from_series(
        spark, {"g": [1, 1, 2, 2], "v": [1.0, 3.0, 10.0, 30.0]}, index="g"
    )

    def center(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf["v"] = pdf["v"] - pdf["v"].mean()
        return pdf

    out = fx.apply_in_pandas(center, "g long, v double")
    got = sorted(map(tuple, out.data()))
    assert got == [(1, -1.0), (1, 1.0), (2, -10.0), (2, 10.0)]
    assert out.index_tag.name == "g"  # tag survives


def test_map_in_pandas(spark):
    fx = FxFrame.from_series(spark, {"v": [1.0, 2.0, 3.0]})

    def double(it):
        for pdf in it:
            pdf["v"] = pdf["v"] * 2
            yield pdf

    assert sorted(r[0] for r in fx.map_in_pandas(double, "v double").data()) == [2.0, 4.0, 6.0]


# ---------------------------------------------------------------------------
# plan-shape regressions: these properties are the 100 TB story — fail
# loudly if a refactor breaks them
# ---------------------------------------------------------------------------


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q5_broadcasts_dims(spark):
    plan = _plan(spark, "q5_revenue_by_nation")
    assert "BroadcastHashJoin" in plan  # dims must never sort-merge


def test_q1_partial_aggregation(spark):
    df = REGISTRY["q1_pricing_summary"].fn(spark, SF)
    optimized = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_" in optimized  # map-side combine before the shuffle


def test_q6_filter_pushdown(spark):
    df = REGISTRY["q6_revenue_forecast"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    # the selective predicates reach the parquet scan
    assert "l_quantity" in plan.split("PushedFilters")[1][:400]


def test_scan_prunes_columns(spark):
    df = REGISTRY["q6_revenue_forecast"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # ReadSchema carries only the 4 needed columns, not all 11
    read_schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "l_comment" not in read_schema
    assert read_schema.count(":") <= 5


def test_partition_pruning(spark, tmp_path):
    """Partitioned lake writes must prune at the scan — the core
    100 TB read pattern."""
    from fabrix_spark.queries import _events

    e = _events(spark, SF).withColumn("day", F.to_date("ts"))
    p = str(tmp_path / "events_by_day")
    e.write.partitionBy("day").parquet(p)
    back = spark.read.parquet(p).filter(F.col("day") == "2024-01-02")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "day" in plan.split("PartitionFilters")[1][:200]
    # pruned read returns only that day's rows
    days = {r["day"] for r in back.select("day").distinct().collect()}
    assert len(days) <= 1


def test_bucketed_upsert_prunes_kept_side_scan(spark, tmp_path):
    """The bucketed-upsert merge must read ONLY the touched bucket
    partitions (PartitionFilters on fx_bucket) — at 100 TB the kept
    side of the anti-join is a few bucket dirs, not the corpus."""
    from fabrix_spark.sources.lake import LakeTable, _BUCKET_COL
    from fabrix_spark.sources.sql import SaveStrategy

    p = str(tmp_path / "t")
    t = LakeTable(spark, p, index="id", buckets=16)
    t.save(spark.range(200).withColumn("v", F.col("id") * 2), SaveStrategy.REPLACE)
    delta = t._with_bucket(spark.createDataFrame([(3, 33)], "id long, v long"))
    touched = [r[0] for r in delta.select(_BUCKET_COL).distinct().collect()]
    kept = (
        t._read_raw()
        .filter(F.col(_BUCKET_COL).isin(touched))
        .join(delta.select("id"), on="id", how="left_anti")
    )
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert _BUCKET_COL in plan.split("PartitionFilters")[1][:300]


def test_pq_plans_no_cartesian(spark):
    """PQ / IVFPQ must never pair corpus × queries with a nested-loop:
    codebooks and per-query lookup tables broadcast-hash-join; the ADC
    sum is a keyed aggregate. A CartesianProduct here would be the
    O(n·q) scan PQ exists to avoid."""
    from fabrix_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 4)
    for df in (
        similarity.pq_cosine_topk(emb, queries, dim=64, m=4, n_codes=8, k=3),
        similarity.ivfpq_topk(emb, queries, dim=64, m=4, n_codes=8, k=3),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_from_range(spark):
    fx = FxFrame.from_range(spark, 5, name="n", index="n")
    assert sorted(r[0] for r in fx.data()) == [0, 1, 2, 3, 4]
    assert fx.index_tag.name == "n"


def test_hash_split_stability_and_coverage(spark):
    from fabrix_spark.operators.sampling import deterministic_sample, hash_split

    d = spark.range(2000).withColumnRenamed("id", "doc_id")
    s1 = hash_split(d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    s2 = hash_split(d.repartition(7), "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    # identical assignment regardless of partitioning (the whole point)
    assert sorted(map(tuple, s1.collect())) == sorted(map(tuple, s2.collect()))
    counts = {r["split"]: r["count"] for r in s1.groupBy("split").count().collect()}
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]

    samp = deterministic_sample(d, "doc_id", 0.3)
    n = samp.count()
    assert 400 < n < 800  # ~600 expected
    # subset property: sampling at higher fraction includes the lower one
    bigger = set(r[0] for r in deterministic_sample(d, "doc_id", 0.6).collect())
    assert set(r[0] for r in samp.collect()) <= bigger


def test_bucketed_join_no_exchange(spark):
    """Bucketed tables joined on the bucket key must plan with ZERO
    exchanges — the pay-the-shuffle-once storage layout."""
    from fabrix_spark.sources.bucketed import read_table, write_bucketed

    o = spark.read.parquet(f"{SF}/orders.parquet")
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    try:
        write_bucketed(o, "fx_b_orders", "o_orderkey", n_buckets=8, sort_cols="o_orderkey")
        write_bucketed(li, "fx_b_lineitem", "l_orderkey", n_buckets=8, sort_cols="l_orderkey")
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force shuffle-side path
        try:
            j = read_table(spark, "fx_b_lineitem").df.join(
                read_table(spark, "fx_b_orders").df,
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert plan.count("Exchange") == 0
            assert j.count() == li.count()
            # aggregation on the bucket key also shuffles nothing
            agg = read_table(spark, "fx_b_lineitem").df.groupBy("l_orderkey").count()
            agg_plan = agg._jdf.queryExecution().executedPlan().toString()
            assert agg_plan.count("Exchange") == 0
        finally:
            if prev is not None:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            else:
                spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    finally:
        spark.sql("DROP TABLE IF EXISTS fx_b_orders")
        spark.sql("DROP TABLE IF EXISTS fx_b_lineitem")


def test_embedding_neardup_no_cartesian(spark):
    """The LSH-bucketed embedding near-dup must never plan an
    all-pairs join — candidates come from the (table, bucket)
    equi-join, the non-negotiable 100 TB property."""
    plan = _plan(spark, "d_embedding_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pipeline_embedding_no_cartesian(spark):
    plan = _plan(spark, "pipeline_embedding_prep")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_jaccard_lsh_matches_exact(spark):
    """jaccard_pairs is the EXACT inverted-index contract; the MinHash
    LSH pipeline (32 hashes in 16 bands of 2 rows) must key its
    candidate join on the banded signature (no cartesian) and, on this
    corpus (dup pairs at high J), recover the identical pair set."""
    from fabrix_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    lsh = dedup.minhash_dedup_pairs(docs, 0.2, n_hashes=32, bands=16)
    plan = lsh._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    exact = dedup.jaccard_pairs(docs, threshold=0.2)
    assert sorted(map(tuple, lsh.collect())) == sorted(map(tuple, exact.collect()))


def test_jaccard_containment_no_forced_doc_broadcast(spark):
    """r9: the Jaccard/containment upper-bound no longer joins back a
    per-document sizes table under a forced broadcast hint (driver OOM
    at 100 TB) — sizes ride the exploded rows into the pair aggregate.
    With auto-broadcast disabled, any BroadcastHashJoin left in the
    plan could only come from an explicit hint, so its absence proves
    no broadcast is FORCED; at real thresholds AQE may still choose
    one when a side measures small, which is the desired behavior."""
    from fabrix_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(200)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for df in (
            dedup.jaccard_pairs(docs, threshold=0.3),
            dedup.containment_pairs(docs, threshold=0.5),
        ):
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastHashJoin" not in plan, plan
            assert "BroadcastNestedLoopJoin" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_embedding_lsh_subset_of_exact(spark):
    """LSH-verified pairs are exactly the true pairs that collide in
    ≥1 bucket table — always a subset of the brute-force result, with
    identical cosines on the pairs it keeps."""
    from fabrix_spark.operators import dedup

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    lsh = {
        (r.id_a, r.id_b): r.cosine
        for r in dedup.embedding_dedup_pairs(emb, threshold=0.4).collect()
    }
    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in dedup.embedding_dedup_pairs(emb, threshold=0.4, method="exact").collect()
    }
    assert set(lsh) <= set(exact)
    for k, v in lsh.items():
        assert exact[k] == v


def test_join_strategy_hints(spark):
    """Broadcast and merge hints must reach the physical planner —
    the explicit controls when AQE's choice needs overriding."""
    o = spark.read.parquet(f"{SF}/orders.parquet")
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    merged = li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
    assert "SortMergeJoin" in merged._jdf.queryExecution().executedPlan().toString()
    bcast = li.join(o.hint("broadcast"), li.l_orderkey == o.o_orderkey)
    assert "BroadcastHashJoin" in bcast._jdf.queryExecution().executedPlan().toString()


def test_cosine_topk_no_nested_loop(spark):
    """Brute-force top-k scores corpus batches against the broadcast
    query matrix map-side, never through a nested-loop node."""
    plan = _plan(spark, "sim_cosine_topk")
    assert "MapInArrow" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q21_single_scan_no_smj(spark):
    """Q21's EXISTS/NOT-EXISTS collapses into one per-order aggregate
    + window: exactly one lineitem scan (the textbook plan scans it
    three times for the two self-joins). The li⋈orders join itself is
    a legitimate shuffle join at scale, so only the scan count is
    pinned."""
    plan = _plan(spark, "q21_waiting_suppliers")
    assert plan.count("lineitem.parquet") == 1


def test_pack_sequences_single_shuffle(spark):
    """Shard-local packing is ONE shuffle (the per-shard window) —
    no global ordering that would serialize on a single partition."""
    plan = _plan(spark, "smp_pack_sequences")
    import re

    assert len(re.findall(r"\bExchange\b", plan)) == 1
    assert "SinglePartition" not in plan


def test_rebalance_corpus_never_shuffles(spark):
    """The corpus side of rebalance joins the tiny cut table by
    broadcast hash join; any nested-loop stays on aggregate-sized
    inputs (inside the broadcast subtree), never the corpus."""
    plan = _plan(spark, "smp_rebalance")
    assert "BroadcastHashJoin" in plan
    # the corpus-side join in the main tree is the BHJ; a BNLJ may
    # appear only under a BroadcastExchange (tiny-side cut derivation)
    main = plan.split("BroadcastExchange")[0]
    assert "BroadcastNestedLoopJoin" not in main
    assert "CartesianProduct" not in main


def test_common_segments_blocklist_broadcast(spark):
    """Boilerplate removal anti-joins a broadcast blocklist — the
    corpus must not reshuffle on the segment key (the doc-keyed
    reassembly join may legitimately shuffle)."""
    import re

    plan = _plan(spark, "d_common_segments")
    assert re.search(r"BroadcastHashJoin \[[^\]]*__seg[^\]]*\][^\n]*LeftAnti", plan)
    assert not re.search(r"SortMergeJoin[^\n]*LeftAnti", plan)


def test_blocked_cosine_no_join_at_all(spark):
    """The matmul top-k path scores map-side — the only Exchange is the
    final top-k window; no join operator appears."""
    plan = _plan(spark, "sim_cosine_topk")
    for op in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert op not in plan
    assert plan.count("Exchange") == 1


def test_top_ngrams_take_ordered(spark):
    """Global top-k must plan as TakeOrderedAndProject (per-partition
    heaps + driver merge of k rows), never a full global sort."""
    plan = _plan(spark, "t_top_ngrams")
    assert "TakeOrderedAndProject" in plan


def test_pagerank_topk_take_ordered(spark):
    """The PageRank top-100 must come from per-partition heads
    (TakeOrdered), not a single-partition global window sort."""
    plan = _plan(spark, "gr_pagerank_purchases")
    assert "TakeOrderedAndProject" in plan


def test_interleave_no_single_partition_exchange(spark):
    """The global mix_order is assigned by range partitioning +
    per-partition offsets — the plan must never funnel the corpus
    through Exchange SinglePartition."""
    plan = _plan(spark, "smp_interleave")
    assert "SinglePartition" not in plan
    # the range-partitioned arrangement is pinned by a localCheckpoint
    # (one materialized assignment shared by the offset pass and the
    # final pass), so it surfaces as the checkpointed scan the final
    # plan reads, not as an Exchange inside this plan
    assert "ExistingRDD" in plan or "rangepartitioning" in plan.lower()


def test_semantic_prune_plan_shape(spark):
    """The FUSED SemDeDup fast path must stay: map-only numpy
    assignment (no assignment join, no max_by shuffle) feeding exactly
    ONE hash Exchange on centroid_id into the per-cluster kept-set
    stage — the dominance rule is cluster-local, so NO join of any
    kind survives in the plan (r8: the former pairs→distinct→anti-join
    chain is folded into the single per-cluster Arrow stage)."""
    import re

    from fabrix_spark.operators import dedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    df = dedup.semantic_prune(emb, k=8, iters=1, threshold=0.375)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInArrow" in plan           # per-cluster kept set
    assert "MapInArrow" in plan                     # numpy assignment
    assert len(re.findall(r"hashpartitioning\(centroid_id", plan)) == 1
    assert "Join" not in plan                       # fully fused: no join
    assert plan.count("Exchange") == 1              # the one required shuffle


@pytest.mark.slow
def test_lsh_salted_hot_bucket(spark):
    """r9 hot-bucket hardening: a near-identical corpus collapses into
    one LSH bucket per band, and AQE's skew-join cannot split it (a
    self-join's hot partition is skewed on BOTH sides, which
    OptimizeSkewedJoin refuses). lsh_candidate_pairs(salt=s) spreads
    the bucket's B^2 pair generation over s tasks via a chunked salted
    self-join. Pins: (a) the salted pair set is IDENTICAL to the
    unsalted one on a hot corpus, (b) the join's shuffle key carries
    the chunk column, so the hot bucket keys are actually split."""
    from fabrix_spark.operators import dedup

    docs = spark.range(400).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("the quick brown fox jumps over the lazy dog again and again "),
            (F.col("id") % 2).cast("string"),
        ).alias("text"),
    )
    sigs = dedup.minhash_signatures(docs, 16, 3, "text", "doc_id").localCheckpoint()
    plain = dedup.lsh_candidate_pairs(sigs, 16, 4, "doc_id")
    salted = dedup.lsh_candidate_pairs(sigs, 16, 4, "doc_id", salt=8)
    got = sorted(map(tuple, salted.collect()))
    assert got == sorted(map(tuple, plain.collect()))
    assert len(got) == 2 * (200 * 199 // 2)  # two all-pairs groups
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "__c" in plan and "__t" in plan  # chunk is part of the join key
    # end-to-end parity through the full pipeline
    a = dedup.minhash_dedup_pairs(docs, threshold=0.5)
    b = dedup.minhash_dedup_pairs(docs, threshold=0.5, salt=4)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_round9_query_plan_shapes(spark):
    """Plan pins for the round-9 additions: the drift monitor is one
    aggregate + metadata-sized arithmetic (single shuffle); the Markov
    model shuffles only on user_id (window + aggregate, no extra
    exchange family); DAU/MAU broadcasts its month-sized MAU side."""
    plan = _plan(spark, "pipeline_drift_monitor")
    assert plan.count("hashpartitioning") <= 2  # agg + the 1-row total
    plan = _plan(spark, "e_markov_transitions")
    assert "BroadcastHashJoin" in plan  # per-from totals broadcast back
    plan = _plan(spark, "e_dau_mau")
    assert "BroadcastHashJoin" in plan  # month-sized MAU side
    assert "SortMergeJoin" not in plan


def test_global_ntile_matches_window_exactly(spark):
    """global_ntile must be bit-identical to the single-reducer
    NTILE(k) window under a total order — including duplicate metric
    values straddling bucket boundaries and n not divisible by k."""
    from pyspark.sql.window import Window

    from fabrix_spark.operators.rank import global_ntile, global_rank

    # 47 rows (47 = 5*9+2 -> first 2 buckets get 10), heavy ties in v
    df = spark.createDataFrame(
        [(i, (i * 7) % 4) for i in range(47)], "id long, v long"
    ).repartition(7)
    order = [F.col("v").asc(), F.col("id").asc()]
    got = {
        r["id"]: r["nt"]
        for r in global_ntile(df, 5, order, "nt", num_partitions=6).collect()
    }
    want = {
        r["id"]: r["nt"]
        for r in df.withColumn("nt", F.ntile(5).over(Window.orderBy(*order))).collect()
    }
    assert got == want

    # ranks themselves are the exact global sequence
    ranked, total = global_rank(df, order, rank_col="r", num_partitions=6)
    assert total == 47
    rs = [r["r"] for r in ranked.orderBy("v", "id").collect()]
    assert rs == list(range(1, 48))

    # fewer rows than buckets: bucket i gets row i
    tiny = spark.createDataFrame([(i,) for i in range(3)], "id long")
    got = {r["id"]: r["nt"] for r in global_ntile(tiny, 5, [F.col("id").asc()], "nt").collect()}
    assert got == {0: 1, 1: 2, 2: 3}


def test_rfm_no_unpartitioned_window(spark):
    """e_rfm_segments (r10) must carry NO window at all — every ntile
    is the distributed global-rank recipe, so the single-reducer
    'Window [ntile(...)]' node of the r9 plan is gone."""
    df = REGISTRY["e_rfm_segments"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_round10_query_plan_shapes(spark):
    """Plan pins for the round-10 additions: the kNN graph must pair
    via the bucket equi-join (no cartesian/nested-loop on data
    tables) and rank per-node (partitioned window only); global-rank
    shapes carry no Window node at all."""
    plan = _plan(spark, "sim_knn_graph")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the ranking window is PARTITIONED by the source node
    assert "Window" in plan and "windowspecdefinition(src" in plan

    for name in ("w_global_rank", "smp_negative_pairs"):
        plan = _plan(spark, name)
        assert "Window" not in plan, name
        assert "CartesianProduct" not in plan, name

    # EWMA: one keyed window partitioned by user, no extra exchanges
    plan = _plan(spark, "tj_ewma")
    assert "windowspecdefinition(user_id" in plan
    assert plan.count("hashpartitioning") <= 1


def test_round10_late_query_plan_shapes(spark):
    """Plan pins for the late round-10 additions: rp_topk broadcasts
    the query side and hash-joins on the constant pair key (never a
    nested loop over the corpus); its windows are per-query
    partitioned. BPE merge counting is two map-combined aggregates —
    the only window orders the pair-alphabet-sized table."""
    plan = _plan(spark, "sim_rp_topk")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "windowspecdefinition(q_id" in plan

    plan = _plan(spark, "t_bpe_merges")
    assert "CartesianProduct" not in plan
    # word-count agg + pair agg, each with partial (map-side) combine
    assert plan.count("hashpartitioning") <= 2


def test_bm25_fused_single_shuffle(spark):
    """The fused BM25 (t_bm25_search) makes ONE logical data shuffle —
    the doc-keyed conditional aggregate. The pre-AQE plan prints that
    same hashpartitioning(doc_id) exchange twice (main branch + the
    stats subtree); they are byte-identical and AQE's ReuseExchange
    collapses them at runtime, so the pin allows 2 but they must BOTH
    be doc_id — a (doc, token) index exchange or a term-join exchange
    would be a third/different key. The only nested-loop join is the
    broadcast of the single stats row (build side = 1 row, cost =
    corpus × 1 — the same shape bm25_scores and sim_* use)."""
    plan = _plan(spark, "t_bm25_search")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    import re

    keys = re.findall(r"hashpartitioning\((\w+)", plan)
    assert len(keys) <= 2 and set(keys) <= {"doc_id"}


def test_metrics_curve_and_resample_plan_shapes(spark):
    """Plan pins for the metrics-curve / resample operator family
    (staged in r11; renamed from test_staged_r12_operator_plan_shapes
    per r12 ADVICE — it collided with the r12-staged pin below):
    calibration_bins is ONE map-side-combined aggregate exchange;
    resample_interpolate's forward and backward passes are TWO Window
    nodes over ONE key shuffle — two sorts since r17 (the forward
    fill runs as a running frame over the REVERSED order; the old
    shared-sort form used a currentRow..unboundedFollowing frame,
    which Spark re-aggregates per row — quadratic per key), but
    never a second Exchange, a self-join, or a range join;
    roc_points' only nested-loop is the 1-row totals
    broadcast and its cumsum runs on the checkpointed range partitions
    (window partitioned by the partition id — never unpartitioned)."""
    import datetime as dt

    from fabrix_spark.operators.metrics import calibration_bins, roc_points
    from fabrix_spark.operators.temporal import resample_interpolate

    scored = spark.createDataFrame(
        [(0.4, True), (0.7, False), (0.4, False)], "score double, pos boolean"
    )
    p = (
        calibration_bins(scored, "score", F.col("pos"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert p.count("Exchange") == 1 and "Window" not in p and "Join" not in p

    rows = [
        ("a", dt.datetime(2024, 3, 1, 1, 30), 10.0),
        ("a", dt.datetime(2024, 3, 1, 4, 0), 40.0),
        ("b", dt.datetime(2024, 3, 1, 2, 0), 5.0),
    ]
    ts = spark.createDataFrame(rows, "user_id string, ts timestamp, value double")
    p = (
        resample_interpolate(ts)._jdf.queryExecution().executedPlan().toString()
    )
    assert p.count("Window") == 2 and p.count("Sort ") == 2
    assert "unboundedfollowing" not in p.lower()
    assert "Join" not in p and "CartesianProduct" not in p

    p = (
        roc_points(scored, "score", F.col("pos"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    assert p.count("BroadcastNestedLoopJoin") == 1  # the 1-row totals
    assert "windowspecdefinition(__fx_pid__" in p  # cumsum stays partition-local

    from fabrix_spark.operators.metrics import auc_by_group

    grouped = spark.createDataFrame(
        [("a", 0.4, True), ("a", 0.7, False), ("b", 0.4, False)],
        "seg string, score double, pos boolean",
    )
    p = (
        auc_by_group(grouped, "score", F.col("pos"), ["seg"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the cumulative window is PARTITIONED by the group — never global
    assert "windowspecdefinition(seg" in p and "Join" not in p


def test_dsir_and_gram_plan_shapes(spark):
    """Plan pins for the DSIR / Gram operator family (staged r12;
    renamed per r12 ADVICE to keep test ids distinct):
    dsir_weights scores the
    corpus-sized feature table through BROADCAST joins only (the
    log-ratio table is ≤ dim rows; a SortMergeJoin there would shuffle
    the corpus against metadata), and gram_matrix is one mapInPandas
    over the scan plus ONE aggregate exchange — the corpus itself
    never shuffles."""
    from fabrix_spark.operators.similarity import gram_matrix
    from fabrix_spark.operators.text import dsir_weights

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "b c d"), (3, "x y")], "doc_id int, text string"
    )
    tgt = spark.createDataFrame([(9, "c d e")], "doc_id int, text string")
    p = (
        dsir_weights(docs, tgt, dim=16)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p

    emb = spark.createDataFrame(
        [([0.5, 0.25],), ([1.0, -0.5],)], "embedding array<float>"
    )
    p = (
        gram_matrix(emb, quantize=1000)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert p.count("Exchange") == 1 and "Join" not in p and "Window" not in p


def test_staged_queries_no_cartesian(spark):
    """Blanket plan gate over every STAGED query: no CartesianProduct
    on data tables anywhere (the 1-row totals crossJoins compile to
    BroadcastNestedLoopJoin with a single-row build side, which is the
    accepted shape) — in the returned frame's plan AND in the recorded
    plan of every SQL execution the query ran while building it, so
    the work behind each localCheckpoint barrier (eager or lazy) is
    gated too."""
    from fabrix_spark.queries import STAGED
    from fabrix_spark.session import recorded_plans

    for name, qd in STAGED.items():
        df, recorded = recorded_plans(spark, lambda: qd.fn(spark, SF))
        plans = [df._jdf.queryExecution().executedPlan().toString(), *recorded]
        for plan in plans:
            assert "CartesianProduct" not in plan, name


def test_fuzzy_pairs_plan_parallel_verify(spark):
    """The fuzzy_pairs verify stage must stay PARALLEL and single-pass:
    the candidate set is tiny in bytes but each row pays a banded
    edit-distance DP, so AQE's size-based coalescing would serialize
    it — the plan pins the explicit REPARTITION_BY_NUM exchange (the
    one kind AQE will not coalesce) behind the lineage barrier, and
    the corpus side must never cross-join."""
    from fabrix_spark.operators.dedup import fuzzy_pairs

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = fuzzy_pairs(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # barrier in place: the verify consumes a checkpointed RDD scan,
    # so the threshold filter CANNOT be pushed into the id-join as a
    # non-equi condition (the r14 double-DP regression)
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # the barrier's input (the candidate join) carries the explicit
    # user repartition AQE must respect
    inner = out._jdf.queryExecution().logical().toString()
    assert "levenshtein" in inner.lower()
    # and the verify stage itself computes the banded distance above
    # the barrier — correct rows regardless of partition count
    rows = {(r["doc_a"], r["doc_b"]) for r in out.collect()}
    assert len(rows) == 8  # pinned sf0.001 result (3-SF parity suite)


def test_temporal_windows_have_no_unbounded_following_frame(spark):
    """asof_join's forward/nearest fill and resample_interpolate's
    __next fill must run as RUNNING frames over the reversed sort
    order: a (currentRow, unboundedFollowing) frame makes Spark
    re-aggregate the whole partition tail per row
    (UnboundedFollowingWindowFunctionFrame — quadratic per key;
    measured 97-101 s vs ~1 s at sf0.1 on the as-of pair, r17)."""
    from fabrix_spark.operators.temporal import asof_join, resample_interpolate

    e = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id", "event_type", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    rates = e.groupBy("event_type").agg(F.max("ts").alias("ts"), F.count("*").alias("n"))
    for direction in ("forward", "nearest"):
        out = asof_join(
            e, rates, on="ts", by=["event_type"], right_cols=["n"], direction=direction
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "unboundedfollowing" not in plan.lower(), direction

    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        F.col("user_id"), F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    out = resample_interpolate(ev, ts_col="ts", key_col="user_id", value_col="value")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "unboundedfollowing" not in plan.lower()

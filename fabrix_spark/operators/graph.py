"""Iterative graph operators over edge DataFrames.

PageRank is the classic crawl/corpus quality primitive (domain
authority for crawl prioritization, centrality of documents inside a
near-dup graph). The reference has no graph operator — this extends
the engine the same way dup_clusters (connected components,
dedup.py) already does, and shares its design constraints:

- **Deterministic integer arithmetic.** Ranks live in int64 units of
  1e-12 (``unit``), every division is integer division, and damping
  is a ×85 //100 integer step — so the result is bit-identical on any
  engine and any partitioning, and a DuckDB oracle can unroll the
  iterations as plain SQL. Float PageRank would drift in the last ulp
  per aggregation order and never hash-match.
- **Fixed iteration count**, not convergence-test-driven: the
  per-iteration plan is one equi-join (edges ⋈ ranks on src) + one
  aggregate (sum of contributions on dst) — both shuffle on the key,
  nothing collects to the driver except the one-time node count.

Semantics: r0(v) = unit // N;
r_{k+1}(v) = (unit // N) * (100-d) // 100  +  d * Σ_{u→v} (r_k(u) // outdeg(u)) // 100.
Dangling-node mass (sinks with no out-edges) is dropped by default —
the common simplification; ranks remain a deterministic partial
order, which is what selection/prioritization uses. Pass
``redistribute=True`` to spread each iteration's dangling sum
uniformly (one extra aggregate per iteration) when ranks must be a
proper distribution comparable across graphs. Integer floor division
also leaks ≤1 unit (1e-12) per division: deterministic on both
engines by construction.

100 TB shape: edges shuffle-partition on src once
(``edges_with_outdeg``), each iteration reuses that partitioning for
the join and shuffles contributions on dst; cost is
O(iters × |E|) with no quadratic term. For many iterations persist
the prepared edge set so Spark doesn't replay the scan per step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "to_undirected",
    "pagerank",
    "triangle_counts",
    "min_label_propagation",
    "bfs_distances",
    "k_core",
]


def to_undirected(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Symmetrize a directed edge list (each edge also reversed),
    deduplicated — turns PageRank into undirected random-walk
    centrality.

    NULL-endpoint edges are EXCLUDED (r17 self-review, extending
    pagerank's r16 contract to the whole family through this shared
    entry): a NULL endpoint is not a node, and because every NULL-src
    edge shares the SAME phantom NULL node, min-label propagation
    would silently BRIDGE otherwise-disjoint clusters through it —
    entity resolution merging unrelated entities because two pair rows
    had missing ids — and k-core could keep a phantom node whose
    "degree" is the corpus's missing-id count."""
    fwd = edges.where(
        F.col(src).isNotNull() & F.col(dst).isNotNull()
    ).select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # ONE explode pass instead of fwd ∪ reversed(fwd) (r18): union
    # branches are independent subtrees, so the union form re-executed
    # the caller's whole edge derivation (typically a fact-table
    # self-join + distinct) TWICE before the symmetrized list existed —
    # the same defect class as the r17 triangle/corners fix. The
    # explode emits the identical (src, dst) multiset in one pass.
    both = F.array(
        F.struct(F.col("src"), F.col("dst")),
        F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
    )
    return (
        fwd.select(F.explode(both).alias("__e"))
        .select(F.col("__e.src").alias("src"), F.col("__e.dst").alias("dst"))
        .distinct()
    )


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping_pct: int = 85,
    unit: int = 10**12,
    src: str = "src",
    dst: str = "dst",
    redistribute: bool = False,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Fixed-iteration integer PageRank over a (src, dst) edge list.

    ``seeds`` (a one-column DataFrame of node ids) switches to
    PERSONALIZED PageRank: the teleport mass lands only on the seed
    set instead of uniformly — r0 and the per-iteration base term are
    ``unit // |seeds|`` for seeds and 0 elsewhere. The crawl-seeding /
    topic-conditioned-authority variant (rank "importance as seen from
    these trusted pages"); same per-iteration plan plus one broadcast
    semi-probe of the seed set.

    Returns (node, rank) for every node appearing in the edge list,
    rank in int64 ``unit`` fractions (divide by ``unit`` for the
    probability-like score). See the module docstring for the exact
    integer recurrence and determinism/scale contract.

    ``redistribute=True`` spreads each iteration's dangling mass (the
    summed rank of sink nodes, which the default semantics drop)
    uniformly: r_{k+1}(v) = base + (Σ contribs + dangling_sum // N)
    * d // 100 — ranks then stay a proper distribution (up to integer
    floor leakage), comparable ACROSS graphs. Cost: one extra
    aggregate per iteration producing a 1-row frame that broadcast-
    cross-joins into the update — no extra driver round-trip, and the
    recurrence stays SQL-unrollable.

    The prepared edge set, the node and seed sets, the degree-joined
    edges and each iteration's ranks are localCheckpointed, truncating
    lineage so iteration k's plan is ONE join + ONE aggregate instead
    of a replay of every previous iteration's derivation."""
    # NULL-endpoint edges are EXCLUDED (the sampling operators' null
    # contract): a NULL src never equi-joins the out-degree table so
    # the edge propagates nothing, yet NULL would still enter the node
    # set via the union, receive base rank every iteration, and count
    # as dangling mass under redistribute — a spurious (NULL, rank)
    # row silently skewing every real node's mass (r16 self-review).
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    # materialize the prepared edge set FIRST (r17): it feeds the node
    # set, the out-degree aggregate, and e_deg's join — without a
    # barrier the caller's edge-derivation subtree (typically a fact
    # join + distinct) re-executes once for the nodes checkpoint and
    # twice more through e_deg's two join sides
    e = e.localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    # one tiny driver scalar (like dup_clusters' per-iteration count):
    # N parameterizes the integer base rank
    nodes = nodes.localCheckpoint()
    n = nodes.count()
    if n == 0:
        raise ValueError("pagerank requires a non-empty edge list")
    if seeds is not None:
        if redistribute:
            raise ValueError(
                "redistribute with seeds is unsupported: personalized "
                "dangling mass teleports to the seed set, not uniformly"
            )
        seed_col = seeds.columns[0]
        seed_nodes = (
            seeds.select(F.col(seed_col).alias("node")).distinct().localCheckpoint()
        )
        n_seeds = seed_nodes.count()
        if n_seeds == 0:
            raise ValueError("personalized pagerank requires a non-empty seed set")
        nodes = nodes.join(F.broadcast(seed_nodes.withColumn("__seed", F.lit(1))), "node", "left")
        is_seed = F.coalesce(F.col("__seed"), F.lit(0)) == 1
        r0_col = F.when(is_seed, F.lit(unit // n_seeds)).otherwise(F.lit(0))
        base_col = F.when(
            is_seed, F.lit((unit // n_seeds) * (100 - damping_pct) // 100)
        ).otherwise(F.lit(0))
    else:
        r0_col = F.lit(unit // n)
        base_col = F.lit((unit // n) * (100 - damping_pct) // 100)
    e_deg = e.join(outdeg, "src").localCheckpoint()
    ranks = nodes.select("node", r0_col.cast("long").alias("rank"))
    for _ in range(iters):
        contrib = e_deg.join(
            ranks.withColumnRenamed("node", "src"), "src"
        ).select(
            F.col("dst").alias("node"), F.expr("rank div outdeg").alias("c")
        )
        sums = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        if redistribute:
            # dangling mass: total rank sitting on nodes with no
            # out-edges this iteration — a 1-row aggregate broadcast
            # into the update (the smp_rebalance 1-row-table shape,
            # not a scale risk)
            dangling = ranks.join(
                outdeg.select(F.col("src").alias("node")), "node", "left_anti"
            ).agg(F.coalesce(F.sum("rank"), F.lit(0)).cast("long").alias("dsum"))
            ranks = (
                nodes.join(sums, "node", "left")
                .crossJoin(F.broadcast(dangling))
                .select(
                    "node",
                    (
                        base_col
                        + F.expr(
                            f"(coalesce(s, 0L) + dsum div {n}) * {damping_pct} div 100"
                        )
                    ).cast("long").alias("rank"),
                )
            )
        else:
            ranks = nodes.join(sums, "node", "left").select(
                "node",
                (
                    base_col
                    + F.expr(f"coalesce(s, 0L) * {damping_pct} div 100")
                ).cast("long").alias("rank"),
            )
        ranks = ranks.localCheckpoint()
    return ranks


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    prepared: bool = False,
) -> DataFrame:
    """Per-node triangle counts (the clustering-coefficient /
    community-density primitive) via DEGREE-ORIENTED wedge closing —
    the standard scalable formulation (compact-forward / node-iterator
    with orientation, public literature): orient each undirected edge
    from its lower-(degree, id) endpoint to the higher one, enumerate
    wedges from each source's oriented out-edges, and keep wedges
    closed by an oriented edge. Every node's oriented OUT-degree is
    O(sqrt(|E|)), so wedge count is bounded by Σ outdeg² ≤ O(|E|^1.5)
    REGARDLESS of hub degree — the naive per-node wedge join would be
    quadratic in the hub degree and die on power-law graphs.

    Deterministic integers; 3 shuffles (degree agg, wedge self-join on
    the source, closing semi-join on the wedge endpoints). Returns
    (node, n_triangles) for nodes in at least one triangle; each
    triangle contributes 1 to each of its three corners.

    ``prepared=True`` (r18, advisor item) declares the input ALREADY
    canonical — (src < dst), distinct, self-loop-free, and materialized
    by the caller — and skips the least/greatest + distinct pass and
    its checkpoint (a redundant full |E| shuffle + second
    materialization when the caller just built exactly that edge
    list, as gr_clustering_coefficient does)."""
    if prepared:
        e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    else:
        # materialize the canonical edge list ONCE (r17): it feeds
        # `deg` TWICE (the unionAll's branches are independent
        # subtrees) and `withdeg` once more, so without a barrier the
        # caller's upstream edge derivation (typically a fact-table
        # self-join + distinct) re-executed three times before a
        # single wedge was enumerated — the same defect class as
        # pagerank's prepared edge set.
        e = (
            edges.select(
                F.least(F.col(src), F.col(dst)).alias("a"),
                F.greatest(F.col(src), F.col(dst)).alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint()
        )
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    # orientation key: (degree, id) — total order, so each edge gets
    # exactly one direction
    withdeg = (
        e.join(deg.withColumnRenamed("n", "a").withColumnRenamed("d", "da"), "a")
        .join(deg.withColumnRenamed("n", "b").withColumnRenamed("d", "db"), "b")
    )
    ka = F.struct(F.col("da").alias("d"), F.col("a").alias("i"))
    kb = F.struct(F.col("db").alias("d"), F.col("b").alias("i"))
    # materialize the oriented edge list ONCE (r17): it feeds THREE
    # branches — both wedge sides and the closing join — so without a
    # barrier the whole edge-construction subtree (the caller's
    # upstream joins, the distinct, and the two degree joins) re-ran
    # per branch. The checkpoint also carries computed stats, so the
    # |E|-row closing side auto-broadcasts when it fits and the
    # wedge stream (the O(|E|^1.5) middle of the job) reaches the
    # closing join WITHOUT a shuffle; at scale, where |E| outgrows the
    # broadcast threshold, the same code degrades to a shuffled join.
    # the head's orientation key is carried as a PLAIN degree column,
    # not a struct: the wedge filter below is pushed into the wedge
    # join as a non-equi condition evaluated once per joined pair
    # (2 × wedge count evaluations), and struct<d,i> comparison
    # allocates and compares field-by-field per row where the
    # two-column form is scalar codegen compares (r17 — interleaved
    # A/B on the near-complete sf0.1 graph: 25.4-27.4 s -> 16.4-16.6 s
    # for the whole query, ~38%)
    oriented = withdeg.select(
        F.when(ka < kb, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(ka < kb, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(ka < kb, F.col("db")).otherwise(F.col("da")).alias("dv"),
    ).localCheckpoint()
    o1 = oriented.select(
        F.col("u"), F.col("v").alias("x"), F.col("dv").alias("dx")
    )
    o2 = oriented.select(
        F.col("u"), F.col("v").alias("y"), F.col("dv").alias("dy")
    )
    # project the orientation keys away BEFORE the closing join: the
    # wedge stream is the biggest relation in the plan, and the two
    # orientation keys were riding every wedge row into the join
    wedges = (
        o1.join(o2, "u")
        .filter(
            (F.col("dx") < F.col("dy"))
            | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
        )
        .select("u", "x", "y")
    )
    closer = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tri = wedges.join(closer, ["x", "y"], "inner").select("u", "x", "y")
    # one corner row per triangle vertex via explode, NOT a 3-way
    # unionAll of tri projections: union branches are independent
    # subtrees, so the unionAll form re-ran the whole wedge
    # enumeration + closing join THREE times (measured at sf0.1: the
    # corners stage read 3 × ~1 GB of re-executed wedge shuffle; the
    # explode emits the identical (node) multiset in ONE pass)
    corners = tri.select(F.explode(F.array("u", "x", "y")).alias("node"))
    return corners.groupBy("node").agg(F.count("*").alias("n_triangles"))


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
) -> DataFrame:
    """Multi-source BFS: the minimum hop distance (0..max_hops) from
    any seed node, following ``edges`` (src → dst) as given —
    symmetrize with :func:`to_undirected` first for undirected reach.
    Returns (node, dist) for every node within ``max_hops``.

    FRONTIER-based, the at-scale shape: each round joins the edge list
    against only the nodes discovered LAST round (not the whole
    visited set), then anti-joins the visited set — so per-round cost
    tracks the frontier size and total cost is O(Σ frontier ⋈ edges),
    the same contract as Pregel BFS. Equal, by induction, to
    ``max_hops`` rounds of Bellman-Ford relaxation — which is how the
    SQL oracle unrolls it. Lineage is truncated per round
    (``localCheckpoint``), the iterative hygiene every loop here uses.

    ``seeds`` must expose a ``node`` column; seed rows not present in
    the graph still report dist 0 (reachability is defined on the seed
    set, not the edge list).
    """
    e = edges.select("src", "dst").localCheckpoint(eager=True)
    dist = (
        seeds.select("node")
        .distinct()
        .withColumn("dist", F.lit(0))
        .localCheckpoint(eager=True)
    )
    frontier = dist.select("node")
    for h in range(1, max_hops + 1):
        nxt = (
            e.join(frontier.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti")
            .withColumn("dist", F.lit(h))
            .localCheckpoint(eager=True)
        )
        frontier = nxt.select("node")
        dist = dist.unionByName(nxt)
    return dist.select("node", F.col("dist").cast("int").alias("dist"))


def min_label_propagation(edges: DataFrame, iters: int = 3) -> DataFrame:
    """Synchronous min-label propagation over an undirected graph:
    every node starts labeled with its own id, and each round sets
    label(v) = min(label(v), min over neighbors of their previous
    label). Run to convergence this is connected components; a FIXED
    iteration count is the community/cluster seeding pass (labels have
    traveled at most ``iters`` hops, so it is also a deterministic,
    oracle-able intermediate — the same reason the PageRank query pins
    its iteration count).

    Per round: ONE shuffle (the message aggregate on the receiving
    node); the edge list is reused unchanged so its partitioning is
    stable, and a localCheckpoint truncates the growing lineage each
    round (the iterative-algorithm hygiene every Pregel-style loop on
    Spark needs). Returns (node, label)."""
    sym = to_undirected(edges).localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=True)
    )
    for _ in range(iters):
        msgs = sym.join(
            labels.withColumnRenamed("node", "dst"), "dst"
        ).select(F.col("src").alias("node"), "label")
        labels = (
            labels.unionByName(msgs)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
    return labels


def k_core(
    edges: DataFrame,
    k: int,
    iters: int = 5,
    until_stable: bool = False,
    max_rounds: int = 100,
) -> DataFrame:
    """Fixed-iteration k-core peeling over an undirected graph: each
    round drops every node whose degree WITHIN THE SURVIVING subgraph
    is below ``k``, along with its edges — removing a low-degree node
    can push its neighbors below k, which is why peeling iterates.
    Run to fixpoint this is the k-core (the standard cohesion
    decomposition); a FIXED iteration count is the deterministic,
    oracle-able intermediate (same contract as
    :func:`min_label_propagation` / :func:`pagerank`): everything
    eliminated within ``iters`` rounds is gone, survivors may still
    peel in later rounds. Returns (node, degree) of the surviving
    subgraph.

    ``until_stable=True`` peels to the TRUE k-core instead: rounds
    continue until the surviving edge table stops shrinking (one
    metadata-sized ``count()`` per round — the same
    driver-scalar-per-iteration contract as pagerank's dangling mass
    and BFS's frontier count; ``iters`` is ignored). Convergence is
    guaranteed — the edge count strictly decreases every non-final
    round — but ``max_rounds`` still bounds pathological chains
    (a path graph peels one node per round) and raises rather than
    silently returning a non-core.

    Per round: one degree aggregate (map-side combined) + two
    semi-joins restricting the edge list — the edge table only ever
    SHRINKS, and a localCheckpoint per round truncates the growing
    lineage (the Pregel-loop hygiene: each uncheckpointed round would
    nest the previous plan ~4×, so optimization of the lazy lineage
    itself would go exponential in round count). No node ever
    broadcasts; survivors of a 100 TB graph peel in parallel."""
    cur = to_undirected(edges).localCheckpoint(eager=True)
    prev_edges = cur.count() if until_stable else None
    rounds = max_rounds if until_stable else iters
    for _ in range(rounds):
        keep = (
            cur.groupBy("src")
            .agg(F.count("*").alias("__deg"))
            .where(F.col("__deg") >= k)
            .select("src")
        )
        cur = (
            cur.join(keep, "src", "left_semi")
            .join(keep.withColumnRenamed("src", "dst"), "dst", "left_semi")
            .localCheckpoint(eager=True)
        )
        if until_stable:
            n_edges = cur.count()
            if n_edges == prev_edges:
                break
            prev_edges = n_edges
    else:
        if until_stable:
            raise ValueError(
                f"k_core: no fixpoint within max_rounds={max_rounds} "
                "rounds — raise max_rounds (each round is one degree "
                "aggregate; long chains peel one layer per round)"
            )
    return (
        cur.groupBy("src")
        .agg(F.count("*").alias("degree"))
        .select(F.col("src").alias("node"), "degree")
    )
